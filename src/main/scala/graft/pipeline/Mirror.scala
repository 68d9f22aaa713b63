package graft.pipeline

import java.io.IOException
import java.nio.charset.StandardCharsets
import java.nio.file.Paths
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project,
  Repartition, SubqueryAlias}
import org.apache.spark.sql.graft.GraftSqlShims
import org.apache.spark.sql.internal.SQLConf

import graft.sources.{SmallTable, TxLog}

/** Incremental refresh of a ROW-WISE transactional table node: one
  * whose build is a chain of deterministic `Project`, `Filter`,
  * non-shuffling `Repartition` and `SubqueryAlias` nodes over exactly
  * one [[TxLog.read]] of another table (the source), with no subquery.
  * Each output row is then a function of one source row and of the
  * plan alone, so when the source only appended, the sink gains the
  * same plan applied to the source's new files — the reference's
  * `diabetes_silver` (diabetes_etl_pipeline.py:101-259) over each
  * update's new bronze rows, while its medians hold.
  *
  * Two branches, one protocol:
  *  - an IDENTITY node (the read alone, possibly coalesced or aliased:
  *    the reference's `diabetes_bronze` streaming table and its
  *    identity read `diabetes_bronze_materialized`, :46-92) hard-links
  *    the new files instead of rewriting them ([[TxLog.appendLinked]]).
  *    Its expectations are counted over the new rows by one aggregation
  *    job (none without expectations); when a Drop expectation rejects a
  *    new row, the filtered new rows are written instead of linked;
  *  - any other row-wise node writes the plan over the new files
  *    ([[TxLog.appendBatch]]), its expectations counted by the write's
  *    own observed metrics ([[PipelineGraph.observeAndDrop]]).
  *
  * Every refresh commit — append, link, or the caller's full overwrite
  * — records the source version as its txn under the source's
  * [[Source.app]] and the plan's [[RowWise.fingerprint]] as a table
  * property, so a re-run over the same source version and plan commits
  * nothing. Expectation counts over the new rows are added to the
  * cumulative counts the previous commit carried as table properties
  * ([[props]]); the node reports the new totals, as a full refresh
  * would.
  *
  * The sink is extended only when its head commit is a refresh commit
  * of this very source and of this very plan: txns and table properties
  * outlive later commits, so after any other commit (a run with another
  * build, an OPTIMIZE, DML) they no longer describe the sink's content;
  * and a plan with other literals (silver's medians moved), another
  * session time zone or ANSI mode would compute other rows for the old
  * source rows.
  *
  * [[refresh]] returns None — the caller then overwrites the sink in
  * full, recording the same txn, fingerprint and counts — when the
  * sink's head is not this source's and this plan's refresh commit, its
  * carried counts are of other expectations, an identity node's files
  * cannot be linked (the tables are on different filesystems, or the
  * filesystem has no hard links), or the source did more than append
  * since the recorded version (a removed file: overwrite, compaction,
  * OPTIMIZE, DML; or a schema change). */
private[pipeline] object Mirror {

  /** A read's table and version, and the txn app a refresh from that
    * table commits under: the absolute directory and the timestamp of
    * the table's commit 0, so a table deleted and re-created in the
    * same directory is another source, whose versions restart. */
  final case class Source(dir: String, version: Long, app: String)

  /** A row-wise build: its analyzed `plan`, the tagged read `leaf` the
    * chain ends in, the source that read names and the plan's
    * fingerprint. */
  final case class RowWise(plan: LogicalPlan, leaf: LogicalPlan, source: Source, fingerprint: String) {

    /** The plan yields exactly the read's rows. */
    def identity: Boolean = chain(plan).forall {
      case _: Repartition | _: SubqueryAlias => true
      case _ => false
    }

    private def chain(p: LogicalPlan): List[LogicalPlan] =
      if (p eq leaf) Nil else p :: chain(p.children.head)

    /** The plan with the read replaced by `scan`, a scan of some of the
      * source's files under the read's schema: `scan`'s columns are
      * aliased to the read's attributes, so every expression above
      * binds unchanged. None when the schemas differ. */
    def over(spark: SparkSession, scan: DataFrame): Option[DataFrame] = {
      val s = scan.queryExecution.analyzed
      Option.when(s.output.map(a => (a.name, a.dataType)) == leaf.output.map(a => (a.name, a.dataType))) {
        val aliased = Project(s.output.zip(leaf.output).map { case (n, o) =>
          Alias(n, o.name)(exprId = o.exprId)
        }, s)
        GraftSqlShims.dataFrameOfPlan(spark, replaceLeaf(plan, leaf, aliased))
      }
    }
  }

  /** `df` as a row-wise build; None for any other frame, for a read
    * whose table's commit 0 log cleanup removed (its identity is then
    * unknown), and for a nondeterministic expression anywhere in the
    * chain. */
  def rowWise(df: DataFrame): Option[RowWise] = {
    val plan = df.queryExecution.analyzed
    def leafOf(p: LogicalPlan): Option[LogicalPlan] =
      if (TxLog.readSourceOf(p).isDefined) Some(p)
      else p match {
        case _: Project | _: Filter | Repartition(_, false, _) | _: SubqueryAlias
            if p.expressions.forall(e => e.deterministic && !SubqueryExpression.hasSubquery(e)) =>
          leafOf(p.children.head)
        case _ => None
      }
    for {
      leaf <- leafOf(plan)
      r <- TxLog.readSourceOf(leaf)
      c0 <- TxLog.logCommit(r.dir, 0L)
    } yield RowWise(plan, leaf,
      Source(r.dir, r.version, s"mirror:${Paths.get(r.dir).toAbsolutePath.normalize}@${c0.ts}"),
      fingerprint(df.sparkSession, plan, leaf))
  }

  private def replaceLeaf(p: LogicalPlan, leaf: LogicalPlan, to: LogicalPlan): LogicalPlan =
    if (p eq leaf) to else p.withNewChildren(Seq(replaceLeaf(p.children.head, leaf, to)))

  /** A digest of what decides the rows `plan` makes from the rows its
    * read yields: the canonical plan printed in full (`toString` elides
    * fields past `spark.sql.debug.maxToStringFields`), with the read
    * replaced by an empty relation of its schema and the coalesces
    * dropped (they move rows between partitions only), the output
    * schema (canonical plans erase column names), and the session time
    * zone and ANSI mode. 128 bits of SHA-256, as hex. */
  private def fingerprint(spark: SparkSession, plan: LogicalPlan, leaf: LogicalPlan): String = {
    def abstracted(p: LogicalPlan): LogicalPlan = p match {
      case _ if p eq leaf => LocalRelation(leaf.output)
      case Repartition(_, false, child) => abstracted(child)
      case _ => p.withNewChildren(Seq(abstracted(p.children.head)))
    }
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
    val full = conf.clone()
    full.setConf(SQLConf.MAX_TO_STRING_FIELDS, Int.MaxValue)
    val text = SQLConf.withExistingConf(full) {
      abstracted(plan).canonicalized.treeString(verbose = true, maxFields = Int.MaxValue)
    }
    val key = Seq(text, plan.schema.json, conf.sessionLocalTimeZone, conf.ansiEnabled.toString).mkString("\n")
    MessageDigest.getInstance("SHA-256").digest(key.getBytes(StandardCharsets.UTF_8))
      .take(16).map(b => f"$b%02x").mkString
  }

  private val Prefix = "graft.expectations"
  private val Fingerprint = "graft.refresh.fingerprint"

  /** The table properties a refresh commit sets: the plan's
    * fingerprint and the cumulative counts — the expectation list they
    * are counts of, the rows seen and each expectation's failures. */
  def props(es: Seq[Expectation], c: ExpectationCounts, fingerprint: String): Map[String, String] =
    Map(Fingerprint -> fingerprint) ++ (
      if (es.isEmpty) Map.empty
      else Map(Prefix -> spec(es), s"$Prefix.rows" -> c.rows.toString) ++
        es.map(e => s"$Prefix.failed.${e.name}" -> c.failed(e.name).toString))

  private def spec(es: Seq[Expectation]): String =
    es.map(e => s"${e.name}\t${e.mode.label}\t${e.predicate}").mkString("\n")

  /** The counts [[props]] stored, if they are of exactly `es`. */
  private def carried(es: Seq[Expectation], p: Map[String, String]): Option[ExpectationCounts] =
    if (es.isEmpty) Some(ExpectationCounts.zero(es))
    else if (!p.get(Prefix).contains(spec(es))) None
    else for {
      rows <- p.get(s"$Prefix.rows").flatMap(_.toLongOption)
      failed <- es.foldLeft(Option(Map.empty[String, Long])) { (acc, e) =>
        for (m <- acc; n <- p.get(s"$Prefix.failed.${e.name}").flatMap(_.toLongOption))
          yield m + (e.name -> n)
      }
    } yield ExpectationCounts(rows, failed)

  /** Bring `t`'s sink at `sink` up to `node`'s source; returns the
    * sink's version and the node's cumulative counts, or None to fall
    * back to a full overwrite. */
  def refresh(spark: SparkSession, t: TableDef, sink: String,
      node: RowWise): Option[(Long, ExpectationCounts)] = {
    val src = node.source
    val head = if (TxLog.latestVersion(sink) < 0) None else Some(TxLog.snapshot(sink))
    // the source version the sink holds: -1 for no sink, else the batch
    // of the head commit's txn when that commit is this source's and
    // this plan's refresh
    val refreshed = head.fold(Option(-1L)) { h =>
      if (!h.props.get(Fingerprint).contains(node.fingerprint)) None
      else TxLog.logCommit(sink, h.version).flatMap(_.txn).collect { case (src.app, b) => b }
    }
    val before = head.fold(Option(ExpectationCounts.zero(t.expectations)))(h => carried(t.expectations, h.props))
    (refreshed, before) match {
      case (Some(from), Some(c)) if from == src.version => head.map(h => (h.version, c))
      case (Some(from), Some(c)) if from < src.version =>
        val srcSnap = TxLog.snapshot(src.dir, Some(src.version))
        TxLog.appendedFilesBetween(src.dir, from, src.version).flatMap { files =>
          lazy val rows = TxLog.scanAdds(spark, src.dir, srcSnap, files)
          // the plan over the new rows, appended; its write counts them
          def write(): Option[Option[(Long, ExpectationCounts)]] =
            node.over(spark, rows).map { df =>
              val (filtered, observed) = PipelineGraph.observeAndDrop(t, df)
              TxLog.appendBatch(spark, sink, filtered, src.app, src.version,
                props(t.expectations, c + observed(), node.fingerprint)).map(_ -> (c + observed()))
            }
          val committed =
            if (!node.identity || !TxLog.linkable(srcSnap, head)) write()
            else {
              val added =
                if (t.expectations.isEmpty || files.isEmpty) ExpectationCounts.zero(t.expectations)
                else {
                  val cols = ExpectationCounts.columns(t.expectations)
                  val r = SmallTable.onePartition(rows).agg(cols.head, cols.tail: _*).head()
                  ExpectationCounts.of(t.expectations, r.getValuesMap[Any](r.schema.fieldNames.toSeq))
                }
              // a rejected new row: write the new rows the Drop keeps
              if (t.expectations.exists(e => e.mode == Expectation.Drop && added.failed(e.name) > 0)) write()
              else
                try Some(TxLog.appendLinked(src.dir, sink, srcSnap.schemaDdl, files, src.app, src.version,
                  props(t.expectations, c + added, node.fingerprint)).map(_ -> (c + added)))
                catch { case _: IOException => None } // cannot link: overwrite instead
            }
          // Some(None): the sink's txns already hold this source version.
          // A run that committed since `head` refreshed it: look again.
          // Else an older commit recorded it (a time-travel read): overwrite.
          val moved = TxLog.latestVersion(sink) != head.fold(-1L)(_.version)
          committed.flatMap(_.orElse(if (moved) refresh(spark, t, sink, node) else None))
        }
      case _ => None
    }
  }
}
