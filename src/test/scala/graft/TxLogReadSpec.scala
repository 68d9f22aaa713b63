package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{FilePartition, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SmallTable, TxLog}

/** `TxLog.read` answers from the log: the scan's file list comes from
  * the snapshot's AddFiles (no listing, no existence checks), a
  * filtered read opens only the files the log's pruning keeps, and a
  * bare `count()` is the snapshot's live row count (no job, no file
  * opened). Every other shape of count still scans. */
class TxLogReadSpec extends AnyFunSuite with SparkTestBase {

  private def tmp(): String =
    graft.Scratch.dir("graft-txread").toString + "/t"

  private def df(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"v$i")).toDF("id", "s")
  }

  /** 40 appends of 10 consecutive ids, one file each: past the 32 paths
    * above which Spark lists a path list in a distributed job. */
  private lazy val fortyFiles: String = {
    val dir = tmp()
    (0 until 40).foreach(i => TxLog.append(spark, dir, df(i * 10 until i * 10 + 10).coalesce(1)))
    assert(TxLog.snapshot(dir).files.size === 40)
    dir
  }

  test("a read of a 40-file table and its count run no Spark job") {
    val dir = fortyFiles
    var n = -1L
    val jobs = countJobs { n = TxLog.read(spark, dir).count() }
    assert(n === 400L)
    assert(jobs === 0, "building the read or counting it ran a job")
  }

  test("a filtered read opens only the files the log's file index keeps") {
    val dir = fortyFiles
    val read = TxLog.read(spark, dir).where(col("id").between(95L, 112L))
    val scan = read.queryExecution.executedPlan.collectFirst { case s: FileSourceScanExec => s }
      .getOrElse(fail(read.queryExecution.executedPlan.toString))
    assert(scan.relation.location.getClass.getSimpleName === "GraftFileIndex")
    val opened = scan.inputRDDs().head.partitions.toSeq.flatMap {
      case p: FilePartition => p.files.toSeq.map { f =>
        val path = f.toPath
        s"${path.getParent.getName}/${path.getName}"
      }
      case other => fail(s"not a file partition: $other")
    }
    val kept = TxLog.prunedFiles(TxLog.snapshot(dir), "id", "95", "112")._1.map(_.path)
    assert(kept.size === 3) // ids 90-99, 100-109, 110-119
    assert(opened.sorted === kept.sorted)
    assert(read.select("id").collect().map(_.getLong(0)).toSet === (95L to 112L).toSet)
  }

  /** The optimized plan of `df`'s bare count has no scan left. */
  private def countFromLog(d: DataFrame): Boolean = {
    val leaves = d.groupBy().count().queryExecution.optimizedPlan.collectLeaves()
    leaves.nonEmpty && leaves.forall(_.isInstanceOf[LocalRelation])
  }

  /** The rule's count, checked against the scanned count. */
  private def assertLogCount(d: DataFrame, expected: Long): Unit = {
    assert(countFromLog(d), d.groupBy().count().queryExecution.optimizedPlan.toString)
    assert(d.count() === expected)
    assert(d.queryExecution.toRdd.count() === expected)
  }

  test("a bare count of a read is the log's count, equal to the scanned count") {
    val dir = tmp()
    TxLog.append(spark, dir, df(0 until 30).repartition(3))
    TxLog.append(spark, dir, df(30 until 50).coalesce(1))
    assertLogCount(TxLog.read(spark, dir), 50L)
    assertLogCount(TxLog.read(spark, dir, Some(0L)), 30L)
    assertLogCount(SmallTable.onePartition(TxLog.read(spark, dir)), 50L)
    assertLogCount(TxLog.read(spark, dir).select("s"), 50L)
    TxLog.read(spark, dir).createOrReplaceTempView("txread_count_view")
    val sql = spark.sql("SELECT count(*) FROM txread_count_view")
    assert(sql.queryExecution.optimizedPlan.collectLeaves().forall(_.isInstanceOf[LocalRelation]))
    assert(sql.head().getLong(0) === 50L)

    // column-mapped: the read renames physical columns in a Project
    val mapped = tmp()
    TxLog.append(spark, mapped, df(0 until 12).repartition(2))
    TxLog.renameColumn(mapped, "s", "label")
    assertLogCount(TxLog.read(spark, mapped), 12L)

    // deletion vectors: the live rows, not the rows the files hold
    val dv = tmp()
    TxLog.append(spark, dv, df(0 until 40).repartition(2))
    TxLog.setProperties(dv, Map(TxLog.DeletionVectors.Enabled -> "true"))
    TxLog.delete(spark, dv, "id % 10 = 0")
    assert(TxLog.snapshot(dv).files.exists(_.dv.nonEmpty))
    assertLogCount(TxLog.read(spark, dv), 36L)

    // a table without a live file
    val empty = tmp()
    TxLog.append(spark, empty, df(0 until 3))
    TxLog.truncate(spark, empty)
    assert(TxLog.snapshot(empty).files.isEmpty)
    assertLogCount(TxLog.read(spark, empty), 0L)
  }

  test("the log answers a count without opening a data file") {
    val dir = tmp()
    TxLog.append(spark, dir, df(0 until 20).repartition(2))
    TxLog.snapshot(dir).files.foreach(f => Files.write(Paths.get(dir, f.path), Array[Byte](0)))
    assert(TxLog.read(spark, dir).count() === 20L)
    intercept[Exception](TxLog.read(spark, dir).where("id > 3").count())
  }

  test("every other shape of count keeps its scan") {
    val dir = tmp()
    TxLog.append(spark, dir, df(0 until 30).repartition(3))
    val dv = tmp()
    TxLog.append(spark, dv, df(0 until 40).repartition(2))
    TxLog.setProperties(dv, Map(TxLog.DeletionVectors.Enabled -> "true"))
    TxLog.delete(spark, dv, "id % 10 = 0")
    def scans(d: DataFrame): Boolean = {
      val plan = d.queryExecution.optimizedPlan
      plan.collectFirst { case l: LocalRelation => l }.isEmpty &&
        plan.collectFirst { case r: LogicalRelation => r }.nonEmpty
    }
    val read = TxLog.read(spark, dir)
    val shapes = Seq(
      "filter" -> read.where("id < 7"),
      "limit" -> read.limit(7),
      "distinct" -> read.select(col("id") % 4).distinct(),
      "sample" -> read.sample(0.5, 7L),
      "union" -> read.union(read),
      "observe" -> read.observe("n", count(lit(1)).as("n")))
    shapes.foreach { case (name, d) =>
      val c = d.groupBy().count()
      assert(scans(c), s"$name:\n${c.queryExecution.optimizedPlan}")
      assert(c.head().getLong(0) === d.queryExecution.toRdd.count(), name)
    }
    val nullCount = read.agg(count(lit(null)).as("n"))
    assert(scans(nullCount), nullCount.queryExecution.optimizedPlan.toString)
    assert(nullCount.head().getLong(0) === 0L)
    val colCount = read.agg(count(col("s")).as("n"))
    assert(scans(colCount), colCount.queryExecution.optimizedPlan.toString)
    assert(colCount.head().getLong(0) === 30L)
    // a filter over a read with deletion vectors (a Union of the clean
    // and the masked scan) counts the filtered live rows
    val dvFiltered = TxLog.read(spark, dv).where("id < 25")
    assert(scans(dvFiltered.groupBy().count()))
    assert(dvFiltered.count() === 22L)
  }

  test("a version below the vacuum horizon is refused by name; the log still replays there") {
    val dir = tmp()
    TxLog.append(spark, dir, df(0 until 4))
    TxLog.append(spark, dir, df(4 until 8))
    // a vacuum that deletes nothing keeps every version readable
    assert(TxLog.vacuum(dir, retainVersions = 1).isEmpty)
    assert(TxLog.vacuumHorizon(dir).isEmpty)
    assert(TxLog.read(spark, dir, Some(0L)).count() === 4L)
    TxLog.optimize(spark, dir, targetBytes = 1L << 30)
    assert(TxLog.vacuum(dir, retainVersions = 1, dryRun = true).nonEmpty)
    assert(TxLog.vacuumHorizon(dir).isEmpty, "a dry run records nothing")
    assert(TxLog.vacuum(dir, retainVersions = 1).nonEmpty)
    assert(TxLog.vacuumHorizon(dir) === Some(2L))
    val e = intercept[TxLog.VersionNotFoundException](TxLog.read(spark, dir, Some(1L)))
    assert(e.getMessage.contains("vacuum horizon 2"), e.getMessage)
    intercept[TxLog.VersionNotFoundException](TxLog.snapshot(dir, Some(0L)))
    assert(TxLog.read(spark, dir, Some(2L)).count() === 8L)
    // a later vacuum retaining more versions cannot lower the horizon
    (8 until 20).foreach(i => TxLog.append(spark, dir, df(i until i + 1)))
    assert(TxLog.vacuum(dir, retainVersions = 100).isEmpty)
    assert(TxLog.vacuumHorizon(dir) === Some(2L))
    // a log cut below the horizon checkpoints a version it refuses to read
    assert(TxLog.cleanupLog(dir, retainVersions = 14) > 0)
    assert(TxLog.read(spark, dir).count() === 20L)
  }
}
