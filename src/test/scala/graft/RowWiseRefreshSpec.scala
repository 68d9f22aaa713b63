package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{DiabetesPipeline, Expectation, PimaCorpus, PipelineGraph, PipelineResult, RunContext,
  TableDef}
import graft.sources.{SmallTable, TxLog}
import graft.streaming.StreamingBronze

/** Row-wise nodes are refreshed by appending: `diabetes_silver` — a
  * projection of bronze with its five medians as literals — appends only
  * the new bronze rows while the medians hold, and is overwritten when
  * one moves. The gate: after every arrival (2k, 18k, 20k, 22k, 100k and
  * 102k rows) every table and every expectation count equals a
  * full-refresh DAG's over the same bronze, and silver's head commit is
  * the append exactly when the medians held. Any other change to what a
  * row-wise plan computes — a literal, the ANSI mode, the time zone —
  * and any node that is not row-wise, or a sink compacted in between,
  * takes the full overwrite. */
class RowWiseRefreshSpec extends AnyFunSuite with SparkTestBase {

  private val Seed = 7L
  private val silver = "diabetes_silver"
  private val Append = "streamingAppend"

  /** A landing directory, the stream's table and the DAG's sinks. */
  private final class Landing(name: String, rc: RunContext) {
    val root: Path = Scratch.dir(s"graft-rowwise-$name")
    val raw: Path = Files.createDirectories(root.resolve("raw"))
    val work: String = root.resolve("dag").toString
    val sink: String = s"$work/_stream/bronze"
    private var shards = 0

    /** Land `n` shards of `rows` rows — shard `sameAs` of the seed
      * again, under a new name, when given — then run the stream. */
    def land(n: Int, rows: Int, sameAs: Option[Int] = None): Unit = {
      (0 until n).foreach { _ =>
        shards += 1
        PimaCorpus.writeShard(raw.resolve(f"diabetes_part_$shards%04d.csv"), Seed, sameAs.getOrElse(shards), rows)
      }
      StreamingBronze.ingest(spark, raw.toString, sink, s"$work/_stream/checkpoint", rc): Unit
    }

    private def defs = DiabetesPipeline.tableDefs(spark, rc, _ => SmallTable.onePartition(TxLog.read(spark, sink)))

    def tables: Seq[String] = defs.filterNot(_.isView).map(_.name)

    def run(): PipelineResult = PipelineGraph.run(spark, defs, work, transactionalSinks = true, publishRun = true)

    def fullRefresh(): PipelineResult = PipelineGraph.run(spark, defs, root.resolve("full").toString)

    def lastOp(table: String): String = RowWiseRefreshSpec.this.lastOp(s"$work/$table")
  }

  private def lastOp(dir: String): String =
    TxLog.history(spark, dir).orderBy(desc("version")).head().getAs[String]("op")

  /** `df` with its floating-point columns rounded to 9 decimal places:
    * sums of doubles depend on the order of their terms, and appended
    * files are not the full refresh's files. */
  private def canon(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 9).as(f.name)
        case _ => col(f.name)
      }
    }: _*)

  private def assertSameRows(a: DataFrame, b: DataFrame, clue: String): Unit = {
    val (onlyA, onlyB) = (a.exceptAll(b).take(3), b.exceptAll(a).take(3))
    assert(onlyA.isEmpty && onlyB.isEmpty, s"$clue: ${onlyA.mkString(" ")} / ${onlyB.mkString(" ")}")
  }

  private def assertSameAsFullRefresh(l: Landing, inc: PipelineResult, step: String): Unit = {
    val full = l.fullRefresh()
    assert(inc.expectations === full.expectations, step)
    l.tables.foreach(t => assertSameRows(canon(inc(t)), canon(full(t)), s"$step: $t differs from a full refresh"))
  }

  /** Silver's five medians over the stream's table, as its build
    * computes them. */
  private def medians(l: Landing): Row =
    TxLog.read(spark, l.sink).selectExpr(
      Seq("Glucose", "BloodPressure", "SkinThickness", "Insulin", "BMI")
        .map(c => s"percentile_approx(CASE WHEN $c > 0 THEN $c END, 0.5)"): _*).head()

  private def dataFiles(dir: String): Set[Path] = {
    val w = Files.walk(Paths.get(dir))
    try w.iterator().asScala.filter { p =>
      p.toString.endsWith(".parquet") && !p.toString.contains("/_txlog/")
    }.toSet finally w.close()
  }

  test("arrivals at 2k, 18k and 100k rows equal a full refresh; silver appends exactly while its medians hold") {
    val l = new Landing("gate", RunContext.golden)
    var last: Option[Row] = None
    var holds, moves = 0
    def arrival(n: Int, step: String): PipelineResult = {
      l.land(n, 2000)
      val now = medians(l)
      val held = last.forall(_ == now) // the first run has no silver to keep
      if (last.nonEmpty) { if (held) holds += 1 else moves += 1 }
      last = Some(now)
      val r = l.run()
      assertSameAsFullRefresh(l, r, step)
      assert(l.lastOp(silver) === (if (held) Append else "overwrite"), s"$step: medians held: $held")
      assert(l.lastOp("diabetes_bronze") === "appendLinked", step)
      r
    }
    arrival(1, "2k rows")
    arrival(8, "18k rows")
    arrival(1, "20k rows")
    arrival(1, "22k rows")
    arrival(39, "100k rows")
    val r = arrival(1, "102k rows")
    assert(holds > 0 && moves > 0, s"holds $holds, moves $moves")
    val valid = r.expectations.find(e => e.table == silver && e.expectation == "valid_age").get
    assert(valid.passedCount + valid.failedCount === 102000L)

    // nothing new: silver commits nothing and writes no file; the counts stay
    val dir = s"${l.work}/$silver"
    val (version, files) = (TxLog.latestVersion(dir), dataFiles(dir))
    l.land(0, 0)
    val again = l.run()
    assert(TxLog.latestVersion(dir) === version)
    assert(dataFiles(dir) === files)
    assert(again.expectations === r.expectations)
  }

  test("under a live clock, appended silver rows keep the time they were transformed") {
    val l = new Landing("live", RunContext.live)
    l.land(1, 2000)
    l.run()
    // per source file: the earliest and latest transformation time, in µs
    def stamps(): Map[String, (Long, Long)] =
      TxLog.read(spark, s"${l.work}/$silver").groupBy("source_file")
        .agg(expr("unix_micros(min(transformation_timestamp))"), expr("unix_micros(max(transformation_timestamp))"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val first = stamps()
    assert(first.size === 1 && first.values.forall { case (a, b) => a == b })
    // the same rows again: every median of the doubled corpus holds
    l.land(1, 2000, sameAs = Some(1))
    l.run()
    assert(l.lastOp(silver) === Append)
    val second = stamps()
    assert(second.size === 2)
    assert(second.filter { case (f, _) => first.contains(f) } === first)
    val (_, (appended, _)) = second.find { case (f, _) => !first.contains(f) }.get
    assert(appended > first.values.head._2)
  }

  test("a changed literal, ANSI mode or time zone, an aggregate, a join, two reads, uuid() and a compacted sink each overwrite") {
    val root = Scratch.dir("graft-rowwise-neg").toString
    val (src, keys, work) = (s"$root/src", s"$root/keys", s"$root/dag")
    val sink = s"$work/node"
    var batches = 0
    def land(): Unit = {
      TxLog.append(spark, src, spark.range(batches * 100L, (batches + 1) * 100L, 1, 1)
        .select(col("id"), (col("id") % 7).as("k"), (col("id") / 3.0).as("x")))
      batches += 1
    }
    TxLog.append(spark, keys, spark.range(0, 7).select(col("id").as("k"), lit(2.0).as("w")))
    def read(): DataFrame = TxLog.read(spark, src)
    val es = Seq(Expectation.warn("small_k", "k < 6"), Expectation.drop("no_five", "k <> 5"))
    /** Land a batch, run `build` as the one node and check it against
      * the build computed afresh; returns the sink's head op. */
    def arrival(build: () => DataFrame, conf: (String, String)*): String = {
      land()
      val saved = conf.map { case (k, _) => k -> spark.conf.get(k) }
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val r = PipelineGraph.run(spark, Seq(TableDef("node", Nil, es, build = _ => build())), work,
          transactionalSinks = true)
        val fresh = build()
        assertSameRows(r("node"), fresh.where("k <> 5"), "node differs from its build")
        val n = fresh.count()
        val failed = Map("small_k" -> fresh.where("NOT (k < 6)").count(), "no_five" -> fresh.where("k = 5").count())
        assert(r.expectations.map(e => e.expectation -> ((e.passedCount, e.failedCount))).toMap ===
          failed.map { case (e, f) => e -> ((n - f, f)) })
      } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
      lastOp(sink)
    }
    val base = () => read().select(col("id"), (col("x") * 2).as("y"), col("k")).where("k <> 3")
    assert(arrival(base) === Append)
    assert(arrival(base) === Append)
    val ansi = (!spark.conf.get("spark.sql.ansi.enabled").toBoolean).toString
    val others: Seq[(String, () => DataFrame, Seq[(String, String)])] = Seq(
      ("a changed literal", () => read().select(col("id"), (col("x") * 3).as("y"), col("k")).where("k <> 3"), Nil),
      ("another ANSI mode", base, Seq("spark.sql.ansi.enabled" -> ansi)),
      ("another time zone", base, Seq("spark.sql.session.timeZone" -> "America/Los_Angeles")),
      ("an aggregate", () => read().groupBy("k").agg(max("id").as("id"), sum("x").as("y")).select("id", "y", "k"), Nil),
      ("a join", () => read().join(TxLog.read(spark, keys), "k").select(col("id"), (col("x") * col("w")).as("y"), col("k")), Nil),
      ("two reads", () => base().unionAll(read().where("k = 3").select(col("id"), (col("x") * 2).as("y"), col("k"))), Nil),
      ("a uuid() column", () => base().withColumn("y", when(expr("uuid()").isNotNull, col("y"))), Nil))
    others.foreach { case (what, build, conf) =>
      assert(arrival(build, conf: _*) === "overwrite", what)
      // and back: the base plan's first run overwrites, its next appends
      assert(arrival(base) === "overwrite", s"after $what")
      assert(arrival(base) === Append, s"after $what")
    }
    // a row-wise plan appends under its own setting, too
    assert(arrival(base, "spark.sql.session.timeZone" -> "America/Los_Angeles") === "overwrite")
    assert(arrival(base, "spark.sql.session.timeZone" -> "America/Los_Angeles") === Append)
    assert(arrival(base) === "overwrite")
    assert(arrival(base) === Append)
    // a compacted sink
    TxLog.optimize(spark, sink)
    assert(lastOp(sink) === "optimize")
    assert(arrival(base) === "overwrite")
    assert(arrival(base) === Append)
  }
}
