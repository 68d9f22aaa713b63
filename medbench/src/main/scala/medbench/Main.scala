package medbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark harness for the medallion DAG and the TxLog table format.
  *
  *   medbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Workloads (each fixes its work as a number of ops, never as
  * seconds, so a faster engine does the same work; `--seconds` is
  * accepted for the benchmark's command line and not used):
  *  - `medallion_arrivals`: one small shard lands per op; streaming
  *    ingest, transactional DAG with run publication, then the dashboards
  *    read through the published run;
  *  - `txlog_upserts`: keyed MERGE upserts into a TxLog patient table,
  *    each followed by snapshot reads (count, point lookup, time travel).
  *
  * `--trace 0` measures the end-to-end metrics; `--trace 1` attaches the
  * [[Tracer]] and reports per-layer metrics instead. The result is one
  * line `MEDBENCH_RESULT {...}` on stdout (run.py turns it into the
  * benchmark's final line). */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
  }

  val workloads: Map[String, Ctx => Report] = Map(
    "medallion_arrivals" -> Arrivals.run,
    "txlog_upserts" -> Upserts.run)

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .appName("medbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val body = workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}; have ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    Files.createDirectories(a.work)
    val spark = session(a.work)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, a.work, a.seed, tracer)
    ctx.phase("session")
    val report = try body(ctx) finally spark.stop()
    println("MEDBENCH_RESULT " + report.json)
  }
}

/** Everything a workload needs: the session, its scratch directory, the
  * seed and (traced runs only) the tracer. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val tracer: Option[Tracer]) {

  /** Whether timed op `i` (from 0) of a traced run is traced. The order
    * untraced, traced, traced, untraced repeats, so a trend over the
    * ops (the JIT still warming) falls equally on both halves of
    * `trace.overhead_s`. */
  def tracedOp(i: Int): Boolean = tracer.isDefined && (i % 4 == 1 || i % 4 == 2)

  /** Seconds since the JVM started: the set-up clock. */
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** Set-up clock readings at the end of each set-up phase. */
  val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  def phase(name: String): Double = { val t = uptimeS; phases += name -> t; t }

  /** Untimed hygiene between ops, as `graft.Bench` does it: drop
    * persisted RDDs and cached plans, then collect garbage. */
  def cleanup(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    System.gc()
  }

  /** Heap still live after a full collection, in MB. */
  def retainedMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Bytes on disk under `dir`, in MB. */
  def storedMb(dir: Path): Double = {
    val s = Files.walk(dir)
    try {
      var n = 0L
      s.iterator().forEachRemaining(p => if (Files.isRegularFile(p)) n += Files.size(p))
      n / 1e6
    } finally s.close()
  }
}
