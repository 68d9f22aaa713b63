package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{DiabetesPipeline, RunContext}
import graft.streaming.StreamingBronze

/** FIXTURES.md §A streaming invariant: dropping the 6 shards in two
  * batches (1-3 then 4-6) through the checkpointed AvailableNow stream
  * yields exactly the same gold tables as one batch read of all six —
  * and re-running with no new files ingests nothing (exactly-once). */
class StreamingBronzeSpec extends AnyFunSuite with SparkTestBase {

  private lazy val srcDir = Paths.get(PimaFixture.csvDir)
  private def copyShard(raw: Path, n: Int): Unit =
    Files.copy(srcDir.resolve(s"diabetes_part_$n.csv"),
      raw.resolve(s"diabetes_part_$n.csv"), StandardCopyOption.REPLACE_EXISTING)

  test("incremental two-batch ingest: exactly-once, equals one-batch gold") {
    val raw = graft.Scratch.dir("graft-stream-raw")
    val work = graft.Scratch.dir("graft-stream-work").toString
    val rc = RunContext.golden
    val sink = s"$work/_stream/bronze"
    val ckpt = s"$work/_stream/checkpoint"

    (1 to 3).foreach(copyShard(raw, _))
    val b1 = StreamingBronze.ingest(spark, raw.toString, sink, ckpt, rc)
    assert(b1.count() === 384) // 3 shards × 128

    // Re-run with no new files: the checkpointed file log must prevent
    // any re-ingestion.
    val b1again = StreamingBronze.ingest(spark, raw.toString, sink, ckpt, rc)
    assert(b1again.count() === 384)

    (4 to 6).foreach(copyShard(raw, _))
    val b2 = StreamingBronze.ingest(spark, raw.toString, sink, ckpt, rc)
    assert(b2.count() === 768)

    // foreachBatch flavor: same rows, plus one distinct batch_id per
    // AvailableNow pass (exactly-once delivery of batch ids).
    val fbSink = s"$work/_stream/fb_bronze"
    val fbCkpt = s"$work/_stream/fb_checkpoint"
    val fb1 = StreamingBronze.ingestForeachBatch(spark, raw.toString, fbSink, fbCkpt, rc)
    assert(fb1.count() === 768) // all six shards in one pass
    val again = StreamingBronze.ingestForeachBatch(spark, raw.toString, fbSink, fbCkpt, rc)
    assert(again.count() === 768) // re-run appends nothing
    assert(fb1.select("batch_id").distinct().count() === 1)

    // At-least-once redelivery contract: foreachBatch may replay a batch
    // after a crash between sink write and checkpoint commit. Replaying
    // batch 0 through the idempotent writer must leave the sink unchanged
    // (dynamic partition overwrite of batch_id=0, not an append).
    val replay = DiabetesPipeline.bronzeBatch(spark, raw.toString, rc)
    StreamingBronze.writeBatchIdempotent(replay, 0L, fbSink)
    assert(spark.read.parquet(fbSink).count() === 768)
    StreamingBronze.writeBatchIdempotent(replay, 0L, fbSink)
    assert(spark.read.parquet(fbSink).count() === 768)

    // Full DAG over the streamed bronze ≡ batch DAG over all six shards
    // (path-free tables; the frozen clock makes them exactly equal).
    val streamed = StreamingBronze.runPipeline(spark, raw.toString, work, rc)
    val batch = DiabetesPipeline.cachedRun(spark, srcDir.toString)
    Seq("diabetes_demographics_summary", "diabetes_risk_analysis",
      "diabetes_executive_summary", "data_validation_summary").foreach { t =>
      val a = streamed(t).collect().map(_.toString).sorted
      val b = batch(t).collect().map(_.toString).sorted
      assert(a.sameElements(b), t)
    }
  }

  test("manifest mode: a new LEDGER row, not a directory scan, drives the next batch") {
    val data = graft.Scratch.dir("graft-manifest-data")
    val manifest = graft.Scratch.dir("graft-manifest-ledger")
    val work = graft.Scratch.dir("graft-manifest-work").toString
    val sink = s"$work/sink"
    val ckpt = s"$work/ckpt"
    (1 to 3).foreach(copyShard(data, _))

    // Ledger names ONLY shard 1. Shards 2 and 3 sit in the same data
    // directory: if the implementation listed the directory instead of
    // reading the ledger, their 256 rows would leak into the sink.
    Files.writeString(manifest.resolve("m0.txt"),
      data.resolve("diabetes_part_1.csv").toString + "\n")
    val b1 = StreamingBronze.ingestManifest(spark, manifest.toString, sink, ckpt,
      DiabetesPipeline.diabetesSchema)
    assert(b1.count() === 128) // shard 1 only — decoys unread
    assert(b1.select("batch_id").distinct().count() === 1)

    // Unchanged ledger: exactly-once over ledger rows, nothing re-ingests.
    val again = StreamingBronze.ingestManifest(spark, manifest.toString, sink, ckpt,
      DiabetesPipeline.diabetesSchema)
    assert(again.count() === 128)

    // One new ledger FILE naming shard 2 (listing a path twice in the
    // same drop must not duplicate rows) drives the next batch; shard 3
    // stays unledgered and therefore unread.
    Files.writeString(manifest.resolve("m1.txt"),
      data.resolve("diabetes_part_2.csv").toString + "\n" +
        data.resolve("diabetes_part_2.csv").toString + "\n")
    val b2 = StreamingBronze.ingestManifest(spark, manifest.toString, sink, ckpt,
      DiabetesPipeline.diabetesSchema)
    assert(b2.count() === 256)
    assert(b2.select("batch_id").distinct().count() === 2)
    // provenance column present and correct per batch
    assert(b2.where("source_file LIKE '%diabetes_part_2.csv'").count() === 128)
  }
}
