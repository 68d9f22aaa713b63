package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.RunContext
import graft.streaming.{StreamMetrics, StreamingBronze}

/** The streaming metrics listener must record every micro-batch with its
  * input-row count — the observability a production stream is monitored
  * by (progress events are async, so the test polls briefly). */
class StreamMetricsSpec extends AnyFunSuite with SparkTestBase {

  test("listener records AvailableNow batches with correct input rows") {
    val raw = graft.Scratch.dir("graft-met-raw")
    val src = Paths.get(PimaFixture.csvDir)
    (1 to 6).foreach { n =>
      Files.copy(src.resolve(s"diabetes_part_$n.csv"),
        raw.resolve(s"diabetes_part_$n.csv"), StandardCopyOption.REPLACE_EXISTING)
    }
    val work = graft.Scratch.dir("graft-met-work").toString
    val metrics = new StreamMetrics()
    spark.streams.addListener(metrics)
    try {
      StreamingBronze.ingest(spark, raw.toString, s"$work/sink",
        s"$work/ckpt", RunContext.golden)
      // progress events are delivered asynchronously — poll up to 10s
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (metrics.size == 0 && System.nanoTime() < deadline) Thread.sleep(100)

      val df = metrics.toDF(spark)
      assert(df.count() >= 1)
      val totalRows = df.agg(org.apache.spark.sql.functions.sum("inputRows"))
        .head().getLong(0)
      assert(totalRows === 768L, df.collect().mkString("; "))
      assert(df.where("durationMs >= 0 AND batchId >= 0").count() === df.count())
    } finally spark.streams.removeListener(metrics)
  }

  test("maxFilesPerTrigger: AvailableNow backfill processes bounded multi-batches, same result") {
    val raw = graft.Scratch.dir("graft-rate-raw")
    val src = Paths.get(PimaFixture.csvDir)
    (1 to 6).foreach { n =>
      Files.copy(src.resolve(s"diabetes_part_$n.csv"),
        raw.resolve(s"diabetes_part_$n.csv"), StandardCopyOption.REPLACE_EXISTING)
    }
    val work = graft.Scratch.dir("graft-rate-work").toString
    val metrics = new StreamMetrics()
    spark.streams.addListener(metrics)
    try {
      val out = StreamingBronze.ingest(spark, raw.toString, s"$work/sink",
        s"$work/ckpt", RunContext.golden, maxFilesPerTrigger = Some(2))
      assert(out.count() === 768) // rate control changes batching, not results
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (metrics.size < 3 && System.nanoTime() < deadline) Thread.sleep(100)
      // 6 files at 2 per trigger: at least 3 bounded micro-batches
      val batches = metrics.toDF(spark).where("inputRows > 0")
      assert(batches.count() >= 3, metrics.toDF(spark).collect().mkString("; "))
      assert(batches.agg(org.apache.spark.sql.functions.max("inputRows"))
        .head().getLong(0) <= 256) // 2 files x 128 rows
    } finally spark.streams.removeListener(metrics)
  }
}
