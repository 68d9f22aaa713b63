package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level data-quality expectation, replacing the reference's DLT
  * decorators (SURVEY.md §2.2 P5/P6):
  *  - `Drop`  = `@dlt.expect_or_drop` (diabetes_etl_pipeline.py:54):
  *    violating rows are filtered out AND counted;
  *  - `Warn`  = `@dlt.expect_all` (:109-113): violations are counted but
  *    rows are kept.
  *
  * `predicate` is a SQL boolean expression over the table's columns.
  */
final case class Expectation(name: String, predicate: String, mode: Expectation.Mode)

object Expectation {
  sealed trait Mode { def label: String }
  case object Drop extends Mode { val label = "drop" }
  case object Warn extends Mode { val label = "warn" }

  def drop(name: String, predicate: String): Expectation = Expectation(name, predicate, Drop)
  def warn(name: String, predicate: String): Expectation = Expectation(name, predicate, Warn)
}

/** Outcome of one expectation on one materialized table. */
final case class ExpectationResult(
    table: String, expectation: String, mode: String,
    passedCount: Long, failedCount: Long)

/** One node of a medallion pipeline: the Scala-native replacement for a
  * `@dlt.table` / `@dlt.view` declaration (SURVEY.md §1.1). `build`
  * receives a resolver for upstream tables (the `dlt.read` equivalent).
  */
final case class TableDef(
    name: String,
    deps: Seq[String],
    expectations: Seq[Expectation] = Nil,
    isView: Boolean = false,
    /** Sink partition columns. Non-empty switches the sink to DYNAMIC
      * partition overwrite: a re-run replaces only the partitions it
      * produces and leaves the rest intact — the parquet stand-in for
      * Delta's replaceWhere/partition-overwrite semantics, and the
      * contract an incremental (per-day) refresh needs. */
    partitionBy: Seq[String] = Nil,
    build: PipelineResult.Reader => DataFrame)

/** Completed pipeline run: every node's DataFrame (views unmaterialized,
  * tables re-read from their parquet sink) plus expectation metrics.
  * All nodes are also registered as temp views named after themselves, so
  * dashboard SQL can run verbatim via `spark.sql` (SURVEY.md §3.3).
  */
final case class PipelineResult(
    tables: Map[String, DataFrame],
    expectations: Seq[ExpectationResult],
    publishedRun: Option[Long] = None) {
  def apply(name: String): DataFrame = tables(name)

  /** Expectation metrics as a queryable DataFrame (the DLT event-log
    * equivalent — what a user would monitor for quality regressions). */
  def expectationMetrics(spark: SparkSession): DataFrame = {
    import spark.implicits._
    expectations.toDF()
  }
}

object PipelineResult {
  /** `dlt.read` equivalent handed to each node's `build`. */
  type Reader = String => DataFrame
}

/** Topologically-ordered executor for a set of [[TableDef]]s — the
  * Scala-native replacement for the DLT framework layer (SURVEY.md §7.1
  * deliverable 2). Nothing here is diabetes-specific.
  *
  * Execution model (mirrors the reference's run lifecycle, SURVEY.md §3.1):
  *  1. Kahn topo-sort over the declared `deps` edges.
  *  2. Per table node: build the plan, count expectation violations via
  *     `Dataset.observe` (single pass — the metrics piggyback on the sink
  *     write, no extra scan even at 100 TB), filter Drop-mode violations,
  *     write the parquet sink, then re-read the sink so downstream nodes
  *     consume the materialized table exactly like `dlt.read` (S3/S5) —
  *     on one partition when the table is small (see [[run]]).
  *  3. Per view node: no materialization, just registration (S4).
  *
  * Scale: each node is one Spark job over declarative DataFrames —
  * Catalyst owns pushdown/pruning/AQE; the runner adds zero driver-side
  * data movement (expectation counts come back as observed metrics, not
  * collect()s of data).
  */
object PipelineGraph {

  def topoOrder(defs: Seq[TableDef]): Seq[TableDef] = {
    val byName = defs.map(d => d.name -> d).toMap
    val visiting = scala.collection.mutable.LinkedHashSet.empty[String]
    val done = scala.collection.mutable.LinkedHashSet.empty[String]
    def visit(n: String): Unit =
      if (!done.contains(n)) {
        require(!visiting.contains(n), s"cycle through $n: ${visiting.mkString(" -> ")}")
        visiting += n
        byName(n).deps.foreach(visit)
        visiting -= n
        done += n
      }
    defs.foreach(d => visit(d.name))
    done.toSeq.map(byName)
  }

  /** Independent nodes run CONCURRENTLY on this many threads (the
    * reference's gold fan-out is 8 independent jobs off silver, SURVEY.md
    * §3.1 — DLT schedules them in parallel and so does this runner).
    * Spark job submission is thread-safe; each node completes its own
    * sink write + metric collection before dependents start. */
  private val Parallelism = 4

  /** Run the graph; sinks go under `workDir/<table>`.
    *
    * Every table node's sink is re-read through
    * [[graft.sources.SmallTable.onePartition]]: a sink whose files total
    * at most `spark.sql.adaptive.coalescePartitions.minPartitionSize`
    * (1 MB by default, the size below which AQE coalesces a whole shuffle
    * into one reducer) reaches its dependents, the temp views and the
    * returned [[PipelineResult]] as one partition, so their aggregates
    * and sorts plan no shuffle and their writes stage one file. Larger
    * sinks stay partition-parallel.
    *
    * `transactionalSinks`: route every table sink through the
    * [[graft.sources.TxLog]] table format instead of plain parquet
    * overwrite — what the reference gets from Delta-backed managed
    * tables (diabetes_etl_pipeline.py:49-52): each run commits a new
    * version (full refresh = transactional overwrite; partitioned nodes
    * = replaceWhereIn on the partition column), so a crashed run never
    * leaves a half-written table, every previous run stays readable via
    * time travel, and concurrent readers are snapshot-isolated.
    * Single-column partitionBy only in this mode.
    *
    * `publishRun` (requires `transactionalSinks`): after EVERY table
    * node's TxLog commit has landed, publish one
    * [[graft.sources.TxPublish]] run manifest mapping each table to the
    * version this run committed. Readers that resolve the manifest once
    * ([[graft.sources.TxPublish.readRun]]) get an all-old-or-all-new
    * cross-table view — a mid-run crash publishes nothing, so they keep
    * seeing the previous complete run. */
  def run(spark: SparkSession, defs: Seq[TableDef], workDir: String,
      transactionalSinks: Boolean = false,
      publishRun: Boolean = false): PipelineResult = {
    require(!publishRun || transactionalSinks,
      "publishRun requires transactionalSinks (manifests pin TxLog versions)")
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration

    val ordered = topoOrder(defs)
    val results = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
    val metrics = scala.collection.concurrent.TrieMap.empty[String, Seq[ExpectationResult]]
    val committedVersions = scala.collection.concurrent.TrieMap.empty[String, Long]
    val reader: PipelineResult.Reader = name =>
      results.getOrElse(name, sys.error(s"unknown upstream table: $name"))

    def runNode(t: TableDef): DataFrame = try {
      runNodeInner(t)
    } catch {
      // Name the failing node: a 14-node concurrent DAG surfacing a bare
      // AnalysisException is undebuggable from the orchestrator's log.
      case e: Throwable =>
        throw new RuntimeException(s"pipeline node '${t.name}' failed: ${e.getMessage}", e)
    }

    def runNodeInner(t: TableDef): DataFrame = {
      val built = t.build(reader)
      val out =
        if (t.isView) built
        else {
          // Violation counts observed in the same pass as the sink write:
          // one sum(when(!pred,1)) per expectation plus a row count. Metric
          // names are prefixed exp_ so an expectation named "rows" cannot
          // collide with the reserved row-count metric. A node without
          // expectations observes nothing: its metrics would go unread.
          val expNames = t.expectations.map(_.name)
          require(expNames.distinct.size == expNames.size,
            s"${t.name}: duplicate expectation names: ${expNames.mkString(", ")}")
          val obs = Option.when(t.expectations.nonEmpty)(
            Observation(s"${t.name}_expectations_${System.nanoTime()}"))
          val observed = obs.fold(built) { o =>
            val metricCols = count(lit(1)).as("rows") +:
              t.expectations.map(e =>
                sum(when(expr(e.predicate), 0L).otherwise(1L)).as(s"exp_${e.name}"))
            built.observe(o, metricCols.head, metricCols.tail: _*)
          }
          val dropPreds = t.expectations.filter(_.mode == Expectation.Drop)
          val filtered = dropPreds.foldLeft(observed)((df, e) => df.filter(expr(e.predicate)))
          val sink = s"$workDir/${t.name}"
          if (transactionalSinks) {
            require(t.partitionBy.size <= 1,
              s"${t.name}: transactional sinks support at most one partition column")
            val v =
              if (t.partitionBy.isEmpty)
                graft.sources.TxLog.overwrite(spark, sink, filtered)
              else
                graft.sources.TxLog.replaceWhereIn(spark, sink, filtered, t.partitionBy.head)
            committedVersions.put(t.name, v): Unit
          } else {
            val writer = filtered.write.mode("overwrite")
            if (t.partitionBy.nonEmpty)
              writer.option("partitionOverwriteMode", "dynamic")
                .partitionBy(t.partitionBy: _*).parquet(sink)
            else writer.parquet(sink)
          }
          // Partitioned re-read pins the BUILD's schema: otherwise partition
          // columns come back type-inferred (a string day becomes DATE) and
          // relocated to the end — downstream nodes would see a different
          // schema than this node produced.
          def reread() = graft.sources.SmallTable.onePartition(
            if (transactionalSinks) graft.sources.TxLog.read(spark, sink)
            else if (t.partitionBy.isEmpty) spark.read.parquet(sink)
            else spark.read.schema(filtered.schema).parquet(sink))
          obs.foreach { o =>
            val got = o.get
            val total = got("rows").asInstanceOf[Long]
            metrics.put(t.name, t.expectations.map { e =>
              val failed = got(s"exp_${e.name}") match { case null => 0L; case x => x.asInstanceOf[Long] }
              ExpectationResult(t.name, e.name, e.mode.label, total - failed, failed)
            })
          }
          reread()
        }
      out.createOrReplaceTempView(t.name)
      results.put(t.name, out)
      out
    }

    val pool = java.util.concurrent.Executors.newFixedThreadPool(Parallelism)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = scala.collection.mutable.Map.empty[String, Future[DataFrame]]
      ordered.foreach { t =>
        val deps = Future.sequence(t.deps.map(futures))
        futures(t.name) = deps.map(_ => runNode(t))
      }
      Await.result(Future.sequence(ordered.map(t => futures(t.name))), Duration.Inf)
    } finally pool.shutdown()

    // The manifest goes out strictly AFTER every node's commit returned
    // (the Await above is the barrier) — the all-or-nothing point.
    val run =
      if (publishRun && committedVersions.nonEmpty)
        Some(graft.sources.TxPublish.publish(workDir, committedVersions.toMap))
      else None

    PipelineResult(
      results.toMap,
      ordered.flatMap(t => metrics.getOrElse(t.name, Nil)),
      run)
  }
}
