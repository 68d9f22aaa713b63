package graft

import java.nio.file.{FileSystemException, Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{DiabetesPipeline, PimaCorpus, PipelineGraph, PipelineResult, RunContext}
import graft.sources.{SmallTable, TxLog}
import graft.streaming.StreamingBronze

/** Bronze is appended, not rewritten: the stream commits each landed
  * shard to its TxLog table, and the transactional DAG's
  * `diabetes_bronze` and `diabetes_bronze_materialized` mirror only the
  * files added since the source version they last mirrored, by hard
  * link. The gate: after every arrival — plain, with a row the
  * `valid_file` Drop rejects, after a source commit that removes files,
  * and a re-run with nothing new — every table and every expectation
  * count equals a full-refresh DAG's over the same bronze. */
class BronzeMirrorSpec extends AnyFunSuite with SparkTestBase {

  private val rc = RunContext.golden
  private val Seed = 23L

  /** A landing directory, the stream's table and the DAG's sinks. */
  private final class Landing(name: String) {
    val root: Path = Scratch.dir(s"graft-mirror-$name")
    val raw: Path = Files.createDirectories(root.resolve("raw"))
    val work: String = root.resolve("dag").toString
    val sink: String = s"$work/_stream/bronze"
    private var shards = 0

    /** Land `n` shards of `rows` rows, then run the stream over them. */
    def land(n: Int, rows: Int): Unit = {
      (0 until n).foreach { _ =>
        shards += 1
        PimaCorpus.writeShard(raw.resolve(f"diabetes_part_$shards%04d.csv"), Seed, shards, rows)
      }
      StreamingBronze.ingest(spark, raw.toString, sink, s"$work/_stream/checkpoint", rc): Unit
    }

    /** The stream's table as `diabetes_bronze` reads it. */
    def bareRead(): DataFrame = SmallTable.onePartition(TxLog.read(spark, sink))
    var bronzeBuild: () => DataFrame = () => bareRead()

    /** Delete the stream's table and checkpoint, as a reset of the
      * stream does; the DAG's sinks stay. */
    def resetStream(): Unit = {
      assert(TxLog.dropTable(sink))
      val w = Files.walk(Paths.get(work, "_stream", "checkpoint"))
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p)) finally w.close()
    }

    private def defs = DiabetesPipeline.tableDefs(spark, rc, _ => bronzeBuild())

    def tables: Seq[String] = defs.filterNot(_.isView).map(_.name)

    /** The incremental (mirroring) run. */
    def run(): PipelineResult = PipelineGraph.run(spark, defs, work,
      transactionalSinks = true, publishRun = true)

    /** A full refresh of every table over the same bronze. */
    def fullRefresh(): PipelineResult =
      PipelineGraph.run(spark, defs, root.resolve("full").toString)
  }

  /** `df` with its floating-point columns rounded to 9 decimal places.
    * Sums of doubles depend on the order of their terms, and a mirror's
    * files are not the full refresh's files (an overwrite writes one
    * file where the source has several; a one-partition read orders
    * files by size), so aggregates such as the correlations differ in
    * their last bits between two correct runs. */
  private def canon(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 9).as(f.name)
        case _ => col(f.name)
      }
    }: _*)

  private def assertSameAsFullRefresh(l: Landing, inc: PipelineResult, step: String): Unit = {
    val full = l.fullRefresh()
    assert(inc.expectations === full.expectations, step)
    l.tables.foreach { t =>
      val (a, b) = (canon(inc(t)), canon(full(t)))
      val (onlyInc, onlyFull) = (a.exceptAll(b).take(3), b.exceptAll(a).take(3))
      assert(onlyInc.isEmpty && onlyFull.isEmpty,
        s"$step: $t differs from a full refresh: ${onlyInc.mkString(" ")} / ${onlyFull.mkString(" ")}")
    }
  }

  /** The op of the latest commit of `table`'s sink. */
  private def lastOp(l: Landing, table: String): String =
    TxLog.history(spark, s"${l.work}/$table").orderBy(desc("version")).head().getAs[String]("op")

  private def dataFiles(dir: String): Set[Path] = {
    val w = Files.walk(Paths.get(dir))
    try w.iterator().asScala.filter { p =>
      p.toString.endsWith(".parquet") && !p.toString.contains("/_txlog/")
    }.toSet finally w.close()
  }

  test("arrivals at 2k and 18k rows, a rejected row, a source compaction and a re-run equal a full refresh") {
    val l = new Landing("gate")

    l.land(1, 2000)
    // the stream commits as its checkpoint's persistent query id
    val queryId = "\"id\":\"([^\"]+)\"".r
      .findFirstMatchIn(Files.readString(Paths.get(l.work, "_stream", "checkpoint", "metadata"))).get.group(1)
    assert(TxLog.snapshot(l.sink).txns === Map(queryId -> 0L))
    val r1 = l.run()
    assertSameAsFullRefresh(l, r1, "2k rows")
    assert(lastOp(l, bronze) === "appendLinked" && lastOp(l, mat) === "appendLinked")
    // bronze's files are the stream's own files, linked, not copies
    val linked = TxLog.snapshot(s"${l.work}/$bronze").files.map(_.path)
    assert(linked.nonEmpty)
    linked.foreach(p => assert(Files.isSameFile(Paths.get(l.sink, p), Paths.get(l.work, bronze, p)), p))

    l.land(8, 2000)
    assert(TxLog.snapshot(l.sink).txns === Map(queryId -> 1L))
    val r2 = l.run()
    assertSameAsFullRefresh(l, r2, "18k rows")
    assert(lastOp(l, bronze) === "appendLinked" && lastOp(l, mat) === "appendLinked")
    val file = r2.expectations.find(_.expectation == "valid_file").get
    assert(file.passedCount + file.failedCount === 18000L)

    // a shard whose rows lack a file name: the Drop rejects them, so
    // bronze writes the shard's filtered rows; its mirror links those
    val bad = TxLog.read(spark, l.sink).orderBy("source_file", "Age", "Glucose", "BMI").limit(300)
      .withColumn("file_name", when(col("Age") % 3 === 0, lit(null).cast("string")).otherwise(col("file_name")))
    TxLog.append(spark, l.sink, bad)
    val rejected = TxLog.read(spark, l.sink).where("file_name IS NULL").count()
    assert(rejected > 0)
    val r3 = l.run()
    assertSameAsFullRefresh(l, r3, "rejected rows")
    assert(lastOp(l, bronze) === "streamingAppend" && lastOp(l, mat) === "appendLinked")
    assert(r3.expectations.find(_.expectation == "valid_file").get.failedCount === rejected)

    // a source commit that removes files: both fall back to an overwrite
    TxLog.optimize(spark, l.sink)
    assert(TxLog.history(spark, l.sink).orderBy(desc("version")).head().getAs[Long]("n_files_removed") > 0)
    val r4 = l.run()
    assertSameAsFullRefresh(l, r4, "source compaction")
    assert(lastOp(l, bronze) === "overwrite" && lastOp(l, mat) === "overwrite")

    // nothing new: no commit, no data file, the same counts
    val versions = Seq(bronze, mat).map(t => TxLog.latestVersion(s"${l.work}/$t"))
    val files = Seq(bronze, mat).map(t => dataFiles(s"${l.work}/$t"))
    l.land(0, 0)
    val r5 = l.run()
    assertSameAsFullRefresh(l, r5, "re-run")
    assert(Seq(bronze, mat).map(t => TxLog.latestVersion(s"${l.work}/$t")) === versions)
    assert(Seq(bronze, mat).map(t => dataFiles(s"${l.work}/$t")) === files)
    assert(r5.expectations === r4.expectations)

    // and the next plain arrival mirrors again
    l.land(1, 2000)
    val r6 = l.run()
    assertSameAsFullRefresh(l, r6, "after the fallback")
    assert(lastOp(l, bronze) === "appendLinked" && lastOp(l, mat) === "appendLinked")
  }

  private val bronze = "diabetes_bronze"
  private val mat = "diabetes_bronze_materialized"

  test("a stream table re-created in the same directory is another source: the mirrors start over") {
    val l = new Landing("recreate")
    (1 to 3).foreach(_ => l.land(1, 500))
    assertSameAsFullRefresh(l, l.run(), "first table at version 2")
    // the new table starts at version 0 with all three shards, and
    // passes the first table's last version after two more
    l.resetStream()
    l.land(0, 0)
    assert(TxLog.latestVersion(l.sink) === 0L)
    assertSameAsFullRefresh(l, l.run(), "new table at version 0")
    assert(lastOp(l, bronze) === "overwrite" && lastOp(l, mat) === "overwrite")
    l.land(1, 500)
    l.land(1, 500)
    assert(TxLog.latestVersion(l.sink) === 2L)
    assertSameAsFullRefresh(l, l.run(), "new table at version 2")
    assert(lastOp(l, bronze) === "appendLinked" && lastOp(l, mat) === "appendLinked")
  }

  test("after a run whose build is not a bare read, the next mirror run overwrites") {
    val l = new Landing("detour")
    l.land(1, 500)
    l.land(1, 500)
    assertSameAsFullRefresh(l, l.run(), "mirrored")
    l.bronzeBuild = () => TxLog.read(spark, l.sink).where("Age > 30")
    assertSameAsFullRefresh(l, l.run(), "filtered build")
    assert(lastOp(l, bronze) === "overwrite")
    // the same source version as the last mirror commit, which is no
    // longer the sink's head
    l.bronzeBuild = () => l.bareRead()
    assertSameAsFullRefresh(l, l.run(), "bare read again")
    assert(lastOp(l, bronze) === "overwrite")
    l.land(1, 500)
    assertSameAsFullRefresh(l, l.run(), "next arrival")
    assert(lastOp(l, bronze) === "appendLinked" && lastOp(l, mat) === "appendLinked")
  }

  /** Run `body` with every hard link failing as link(2) does across
    * filesystems. */
  private def withoutHardLinks[T](body: => T): T = {
    val saved = TxLog.hardLink
    TxLog.hardLink = (to, from) =>
      throw new FileSystemException(from.toString, to.toString, "Invalid cross-device link")
    try body finally TxLog.hardLink = saved
  }

  test("files that cannot be hard-linked are written by the full overwrite") {
    val l = new Landing("nolink")
    l.land(1, 500)
    withoutHardLinks {
      assertSameAsFullRefresh(l, l.run(), "no hard links")
      assert(lastOp(l, bronze) === "overwrite" && lastOp(l, mat) === "overwrite")
    }
    // no link of the failed attempt is left behind
    Seq(bronze, mat).foreach { t =>
      val dir = s"${l.work}/$t"
      assert(dataFiles(dir) === TxLog.snapshot(dir).files.map(f => Paths.get(dir, f.path)).toSet, t)
    }
    l.land(1, 500)
    assertSameAsFullRefresh(l, l.run(), "hard links again")
    assert(lastOp(l, bronze) === "appendLinked" && lastOp(l, mat) === "appendLinked")
  }

  test("appendLinked: a failed link removes the links it made and commits nothing") {
    val src = Scratch.dir("graft-mirror-nolink-src").toString
    val dst = Scratch.dir("graft-mirror-nolink-dst").toString
    TxLog.append(spark, src, spark.range(0, 100, 1, 3).toDF("id"))
    val snap = TxLog.snapshot(src)
    assert(snap.files.size > 1)
    val saved = TxLog.hardLink
    var n = 0
    TxLog.hardLink = (to, from) => {
      n += 1
      if (n == 2) throw new FileSystemException(from.toString, to.toString, "Invalid cross-device link")
      saved(to, from)
    }
    try intercept[FileSystemException](TxLog.appendLinked(src, dst, snap.schemaDdl, snap.files, "app", 0L))
    finally TxLog.hardLink = saved
    assert(n === 2)
    assert(dataFiles(dst).isEmpty && TxLog.latestVersion(dst) === -1L)
  }

  test("appendLinked: files join by hard link with their stats, and a replayed batch commits nothing") {
    val src = Scratch.dir("graft-mirror-src").toString
    val dst = Scratch.dir("graft-mirror-dst").toString
    TxLog.append(spark, src, spark.range(0, 100, 1, 2).select(col("id"), (col("id") % 7).as("k")))
    TxLog.append(spark, src, spark.range(100, 150, 1, 1).select(col("id"), (col("id") % 7).as("k")))
    val snap = TxLog.snapshot(src)
    assert(TxLog.linkable(snap, None))
    val first = TxLog.appendedFilesBetween(src, -1L, 0L).get
    assert(TxLog.appendLinked(src, dst, snap.schemaDdl, first, "app", 0L) === Some(0L))
    val rest = TxLog.appendedFilesBetween(src, 0L, 1L).get
    assert(TxLog.appendLinked(src, dst, snap.schemaDdl, rest, "app", 1L) === Some(1L))
    assert(TxLog.appendLinked(src, dst, snap.schemaDdl, rest, "app", 1L) === None)
    assert(TxLog.read(spark, dst).except(TxLog.read(spark, src)).isEmpty)
    assert(TxLog.read(spark, dst).count() === 150L)
    assert(TxLog.snapshot(dst).files.map(f => (f.path, f.rows, f.stats)) ===
      snap.files.map(f => (f.path, f.rows, f.stats)))
    // a range with a remove cannot be extended by its adds alone
    TxLog.delete(spark, src, "id < 10")
    assert(TxLog.appendedFilesBetween(src, 1L, 2L).isEmpty)
  }

  test("readSource: a bare or coalesced read names its table and version; anything else does not") {
    val dir = Scratch.dir("graft-mirror-tag").toString
    TxLog.append(spark, dir, spark.range(0, 10).toDF("id"))
    TxLog.append(spark, dir, spark.range(10, 20).toDF("id"))
    val read = TxLog.read(spark, dir)
    assert(TxLog.readSource(read) === Some(TxLog.ReadSource(dir, 1L)))
    assert(TxLog.readSource(SmallTable.onePartition(read)) === Some(TxLog.ReadSource(dir, 1L)))
    assert(TxLog.readSource(TxLog.read(spark, dir, Some(0L))) === Some(TxLog.ReadSource(dir, 0L)))
    assert(TxLog.readSource(read.where("id > 3")).isEmpty)
    assert(TxLog.readSource(read.select((col("id") + 1).as("id"))).isEmpty)
    assert(TxLog.readSource(spark.range(3).toDF("id")).isEmpty)
  }
}
