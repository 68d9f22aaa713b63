package medbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.pipeline.TableDef

/** Per-layer instrument of the traced run, kept entirely outside the
  * engine: a [[SparkListener]] that files every job under the tag its
  * submitting thread carried (`medbench.tag` local property), plus
  * spans the workloads take around the engine's public calls.
  *
  * Stage metrics are attributed to the first job that lists the stage,
  * so a stage reused (skipped) by a later job is never counted twice. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.Map.empty[Int, Job]
  private val stageOwner = mutable.Map.empty[Int, Job]

  /** Rows of every streaming micro-batch that made progress. */
  private val batchRows = mutable.ArrayBuffer.empty[Long]
  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) Tracer.this.synchronized(batchRows += e.progress.numInputRows)
  }

  private var attached = false
  def attach(): Unit = if (!attached) {
    sc.addSparkListener(this); spark.streams.addListener(streams); attached = true
  }
  def detach(): Unit = if (attached) {
    drain(); sc.removeSparkListener(this); spark.streams.removeListener(streams); attached = false
  }

  /** Cursor for [[batchesSince]]. */
  def batchMark(): Int = { drain(); synchronized(batchRows.size) }

  /** Input rows of each micro-batch since `cursor`. */
  def batchesSince(cursor: Int): Seq[Long] = { drain(); synchronized(batchRows.drop(cursor).toList) }

  /** Wait until every event posted so far has reached this listener. */
  def drain(): Unit = ListenerBusDrain.drain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).getOrElse("")
    val j = new Job(e.jobId, tag, e.time)
    jobs += j; jobById(e.jobId) = j
    e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageOwner.get(si.stageId).foreach { j =>
      j.stages += 1
      j.tasks += si.numTasks
      Option(si.taskMetrics).foreach { m =>
        j.cpuNs += m.executorCpuTime
        j.bytesRead += m.inputMetrics.bytesRead
        j.bytesWritten += m.outputMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Cursor for [[since]]: the number of jobs seen so far (drained). */
  def mark(): Int = { drain(); synchronized(jobs.size) }

  /** Jobs started after `cursor` (drained first). */
  def since(cursor: Int): Seq[Job] = { drain(); synchronized(jobs.drop(cursor).toList) }

  /** Run `body` with this thread's jobs tagged `tag`. */
  def tagged[A](tag: String)(body: => A): A = {
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, prev)
  }

  /** `defs` with every build wrapped: the build span is recorded and the
    * pool thread is tagged `node:<name>`, so the node's sink write (run
    * next on the same thread) carries the tag too. */
  def wrap(defs: Seq[TableDef], spans: mutable.Map[String, (Long, Long)]): Seq[TableDef] =
    defs.map(d => d.copy(build = read => {
      sc.setLocalProperty(TagKey, NodeTag + d.name)
      val t0 = System.currentTimeMillis()
      val df = d.build(read)
      spans.synchronized(spans(d.name) = (t0, System.currentTimeMillis()))
      df
    }))
}

object Tracer extends AdaptiveSparkPlanHelper {
  val TagKey = "medbench.tag"
  val NodeTag = "node:"

  final class Job(val id: Int, val tag: String, val start: Long) {
    var end: Long = -1L
    var stages, tasks = 0
    var cpuNs, bytesRead, bytesWritten, spill = 0L
  }

  /** Totals over a set of jobs. */
  final case class Totals(jobs: Int, stages: Int, tasks: Int, cpuS: Double,
      readMb: Double, writtenMb: Double, spillMb: Double)

  def totals(js: Seq[Job]): Totals = Totals(js.size, js.map(_.stages).sum, js.map(_.tasks).sum,
    js.map(_.cpuNs).sum / 1e9, js.map(_.bytesRead).sum / 1e6,
    js.map(_.bytesWritten).sum / 1e6, js.map(_.spill).sum / 1e6)

  /** Seconds of [t0, t1] (epoch ms) covered by at least one job. */
  def coveredS(js: Seq[Job], t0: Long, t1: Long): Double = {
    val iv = js.map(j => (math.max(j.start, t0), math.min(if (j.end < 0) t1 else j.end, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    covered / 1000.0
  }

  /** Longest dependency chain of node durations (seconds). */
  def criticalPathS(defs: Seq[TableDef], durS: Map[String, Double]): Double = {
    val memo = mutable.Map.empty[String, Double]
    val byName = defs.map(d => d.name -> d).toMap
    def cp(n: String): Double = memo.getOrElseUpdate(n,
      durS.getOrElse(n, 0.0) + byName(n).deps.map(cp).foldLeft(0.0)(math.max))
    defs.map(d => cp(d.name)).max
  }

  /** Last-modified time of `p` in epoch ms, when it exists. */
  def mtimeMs(p: Path): Option[Long] =
    if (Files.exists(p)) Some(Files.getLastModifiedTime(p).toMillis) else None

  /** When TxLog commit `v` of the table at `dir` landed (epoch ms). */
  def commitMs(dir: Path, v: Long): Option[Long] = mtimeMs(dir.resolve("_txlog").resolve(f"$v%020d.json"))

  /** Commits of the table at `dir` up to `v` since its last checkpoint. */
  def commitsSinceCheckpoint(dir: Path, v: Long): Long = {
    val ls = Files.list(dir.resolve("_txlog"))
    val ckpts = try {
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala.map(_.getFileName.toString)
        .collect { case CkptName(n) => n.toLong }.filter(_ <= v).toList
    } finally ls.close()
    v - ckpts.foldLeft(0L)(math.max)
  }
  private val CkptName = """(\d{20})\.ckpt\..*""".r

  /** Files the executed scans of `df` opened (call after an action). */
  def filesScanned(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum

  /** Process-wide JVM counters, sampled around each timed op. */
  final case class Jvm(gcMs: Long, cpuNs: Long, wallNs: Long) {
    def -(o: Jvm): Jvm = Jvm(gcMs - o.gcMs, cpuNs - o.cpuNs, wallNs - o.wallNs)
  }
  def jvm(): Jvm = {
    import scala.jdk.CollectionConverters._
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    val cpu = ManagementFactory.getOperatingSystemMXBean match {
      case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime
      case _ => 0L
    }
    Jvm(gc, cpu, System.nanoTime())
  }

  /** GC seconds and CPU utilisation (process CPU over wall × cores) of
    * one op, from the counters taken before it. */
  def addJvm(s: Samples, before: Jvm): Unit = {
    val d = jvm() - before
    s.add("jvm.gc_s", d.gcMs / 1000.0)
    s.add("jvm.cpu_util", d.cpuNs.toDouble / (d.wallNs.toDouble * Runtime.getRuntime.availableProcessors))
  }
}
