package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** Run-level SNAPSHOT-ISOLATED MULTI-TABLE PUBLISH over [[TxLog]]
  * tables — the cross-table consistency layer a medallion pipeline's
  * readers need and per-table transactionality alone cannot give.
  *
  * A pipeline run writes N gold tables; each write is individually
  * atomic (one TxLog version per table), but a dashboard reader that
  * resolves "latest" per table MID-RUN can see table A from the new run
  * joined against table B from the old one — a torn cross-table view.
  * (Even Delta has this gap: its transactions are single-table.)
  *
  * The fix is one more pointer level, the Iceberg-catalog idea applied
  * across tables: a RUN MANIFEST mapping every table name to the TxLog
  * version that run committed, itself published with the same
  * create-exclusive hard-link claim as a TxLog commit. The manifest
  * flips in ONE filesystem operation after ALL table writes have
  * landed, so a reader that resolves the manifest once and pins every
  * table read to its recorded version sees all-old or all-new, never
  * mixed — and because TxLog versions are immutable until vacuum, the
  * pinned reads stay valid even if the next run lands mid-read.
  *
  * Crash story: a run that dies after committing some tables never
  * publishes a manifest, so readers keep resolving the previous
  * complete run; the half-written table versions are unreferenced
  * history that the next successful run supersedes (and vacuum
  * eventually reclaims).
  *
  * Layout: `root/_publish/<run %020d>.json`, content
  * `{"run":R,"ts":...,"tables":{"name":version,...}}`. Publishes are
  * append-only; concurrent publishers race on the run number and the
  * loser rebases to the next one (both land, latest wins for readers).
  *
  * At 100 TB scale nothing here grows with data: the manifest is
  * tables-sized, resolution is one directory list + one small read, and
  * on an object store the claim becomes a conditional put exactly as in
  * [[TxLog]]'s portability note.
  */
object TxPublish {

  /** One published run: every table's pinned TxLog version. */
  final case class RunManifest(run: Long, ts: Long, tables: Map[String, Long])

  final class NoPublishedRunException(msg: String) extends RuntimeException(msg)

  private def pubDir(root: String): Path = Paths.get(root, "_publish")
  private def runFile(root: String, r: Long): Path =
    pubDir(root).resolve(f"$r%020d.json")

  private val runName = """(\d{20})\.json""".r

  private def listRuns(root: String): Seq[Long] = {
    val d = pubDir(root)
    if (!Files.isDirectory(d)) return Nil
    val s = Files.list(d)
    try s.iterator().asScala.map(_.getFileName.toString)
      .collect { case runName(v) => v.toLong }.toList.sorted
    finally s.close()
  }

  /** Publish a completed run's table→version map as the new latest run.
    * Call ONLY after every listed table's TxLog commit has returned.
    * Returns the run number. Concurrent publishers both land (distinct
    * run numbers, claim-loser rebases); the claim is the same hard-link
    * primitive as a TxLog commit, so readers never see a torn manifest. */
  def publish(root: String, tables: Map[String, Long],
      maxAttempts: Int = 20): Long = {
    require(tables.nonEmpty, "publish: empty table map")
    Files.createDirectories(pubDir(root))
    var tries = 0
    while (tries < maxAttempts) {
      val run = listRuns(root).lastOption.map(_ + 1).getOrElse(0L)
      val j: JValue = ("run" -> run) ~ ("ts" -> System.currentTimeMillis()) ~
        ("tables" -> JObject(tables.toSeq.sortBy(_._1)
          .map { case (n, v) => n -> (JInt(v): JValue) }.toList))
      val tmp = pubDir(root).resolve(s".tmp-${UUID.randomUUID().toString.take(8)}")
      Files.write(tmp, compact(render(j)).getBytes(StandardCharsets.UTF_8))
      val won =
        try { Files.createLink(runFile(root, run), tmp); true }
        catch { case _: FileAlreadyExistsException => false }
        finally Files.deleteIfExists(tmp): Unit
      if (won) return run
      tries += 1
    }
    throw new TxLog.ConcurrentWriteException(
      s"publish to $root lost $maxAttempts consecutive run-number races")
  }

  /** The manifest of `runAsOf` (default: latest published run). */
  def manifest(root: String, runAsOf: Option[Long] = None): RunManifest = {
    val runs = listRuns(root)
    if (runs.isEmpty)
      throw new NoPublishedRunException(s"$root has no published runs")
    val target = runAsOf.getOrElse(runs.last)
    if (!runs.contains(target))
      throw new NoPublishedRunException(
        s"run $target not published in $root (latest: ${runs.last})")
    val j = parse(Files.readString(runFile(root, target)))
    val tables = (j \ "tables") match {
      case JObject(fields) =>
        fields.map { case JField(n, v) => n -> v.asInstanceOf[JInt].num.longValue }.toMap
      case _ => Map.empty[String, Long]
    }
    RunManifest(target, (j \ "ts").asInstanceOf[JInt].num.longValue, tables)
  }

  /** All published runs, oldest first — DESCRIBE HISTORY for the run
    * pointer. */
  def history(root: String): Seq[RunManifest] =
    listRuns(root).map(r => manifest(root, Some(r)))

  /** Read `table` at the version pinned by `runAsOf` (default latest
    * run). Resolve [[manifest]] ONCE and reuse it across tables when a
    * consistent multi-table view matters — that single resolution is the
    * isolation boundary. A small table comes back on one partition
    * ([[SmallTable.onePartition]]), so a dashboard query over it plans no
    * shuffle. */
  def readTable(spark: SparkSession, root: String, table: String,
      runAsOf: Option[Long] = None): DataFrame = {
    val m = manifest(root, runAsOf)
    val v = m.tables.getOrElse(table,
      throw new NoPublishedRunException(
        s"table $table not in run ${m.run} of $root (has: ${m.tables.keys.toSeq.sorted.mkString(", ")})"))
    SmallTable.onePartition(TxLog.read(spark, s"$root/$table", Some(v)))
  }

  /** Every table of one run as a consistent map — the all-old-or-all-new
    * read path for dashboards: one manifest resolution pins them all.
    * Small tables come back on one partition, as in [[readTable]]. */
  def readRun(spark: SparkSession, root: String,
      runAsOf: Option[Long] = None): Map[String, DataFrame] = {
    val m = manifest(root, runAsOf)
    m.tables.map { case (n, v) => n -> SmallTable.onePartition(TxLog.read(spark, s"$root/$n", Some(v))) }
  }
}
