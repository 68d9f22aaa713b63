package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.Trigger
import graft.pipeline.{DiabetesPipeline, PipelineGraph, PipelineResult, RunContext}
import graft.sources.{SmallTable, TxLog}

/** Streaming bronze ingest — the Auto-Loader-shaped path (SURVEY.md §2.1
  * S1/S2, §2.9; diabetes_etl_pipeline.py:62-73): incremental CSV file
  * stream with an explicit schema, provenance from `_metadata.file_path`,
  * `Trigger.AvailableNow` (process everything available, then stop), and
  * checkpoint-backed exactly-once file tracking — re-running against an
  * unchanged directory ingests nothing new, dropping more files ingests
  * only those (FIXTURES.md's two-batch ≡ one-batch invariant; proven in
  * StreamingBronzeSpec).
  *
  * Scale: the file-source maintains a file log in the checkpoint; each
  * micro-batch is a plain distributed CSV scan (same plan as the batch
  * flavor), and the sink's staged write is partition-parallel. Nothing
  * passes through the driver.
  */
object StreamingBronze {

  /** Run one AvailableNow ingest pass into the [[TxLog]] table at
    * `sinkDir` ([[StreamingTx]]'s exactly-once append: each micro-batch
    * is one commit whose txn pairs the checkpoint's persistent query id
    * with the batch id). Returns the table's read (S5 — the
    * `diabetes_bronze_materialized` input), on one partition while it
    * is small ([[SmallTable.onePartition]]). A transactional
    * [[PipelineGraph]] node built from that read mirrors the table's new
    * files instead of copying it.
    *
    * `maxFilesPerTrigger` bounds each micro-batch's file count — the
    * backfill rate-control knob: an AvailableNow pass over a large
    * backlog then processes it as a SEQUENCE of bounded batches (state,
    * memory, and sink commits stay batch-sized) instead of one giant
    * batch, while the checkpoint still guarantees each file exactly
    * once. */
  def ingest(spark: SparkSession, rawDir: String, sinkDir: String,
      checkpointDir: String, rc: RunContext,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val stream = DiabetesPipeline.withProvenance(
      StreamingTx.csvStream(spark, rawDir, DiabetesPipeline.diabetesSchema, maxFilesPerTrigger), rc)
    StreamingTx.appendStream(stream, sinkDir, checkpointDir, appId = None)
    SmallTable.onePartition(TxLog.read(spark, sinkDir))
  }

  /** Sink handler for [[ingestForeachBatch]], public so the replay
    * contract is directly testable: write batch `batchId` into the
    * `batch_id=<id>` partition with DYNAMIC partition overwrite, so only
    * that batch's partition is replaced. foreachBatch delivery is
    * AT-LEAST-ONCE (a crash between the sink write and the checkpoint
    * commit replays the batch), so a blind append would duplicate rows —
    * overwrite-own-partition makes redelivery idempotent: the replay
    * rewrites the same partition with the same rows. */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long, sinkDir: String): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(sinkDir)

  /** `foreachBatch` flavor of the ingest — the production sink pattern
    * when the destination needs per-batch logic (MERGE into a warehouse
    * table, multi-sink fan-out, dedup against existing keys). The handler
    * receives (batch DataFrame, batchId). Delivery is at-least-once;
    * idempotence comes from [[writeBatchIdempotent]] (per-batch partition
    * overwrite), NOT from the checkpoint alone. Downstream identical to
    * [[ingest]] plus the `batch_id` provenance partition column; the sink
    * read is planned on one partition while small, as in [[ingest]]. */
  def ingestForeachBatch(spark: SparkSession, rawDir: String, sinkDir: String,
      checkpointDir: String, rc: RunContext): DataFrame = {
    val stream = DiabetesPipeline.withProvenance(
      StreamingTx.csvStream(spark, rawDir, DiabetesPipeline.diabetesSchema, None), rc)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(batch, batchId, sinkDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    SmallTable.onePartition(spark.read.parquet(sinkDir))
  }

  /** Manifest-mode ingest — the 100M-file answer to [[ingest]]'s one
    * genuine scale limit: Spark's file source RE-LISTS the input
    * directory on every trigger, so at Auto-Loader-scale backlogs the
    * driver pays O(total files) listing per batch forever. Here the
    * stream reads a LEDGER instead: a tiny text-file directory where
    * each row is the path of one newly-arrived data file (the producer
    * appends a manifest file per drop — the S3-inventory / notification-
    * queue pattern). Per trigger the source lists only the manifest
    * directory (O(drops), compactable), never the data directory; the
    * data files themselves are NEVER enumerated — each micro-batch
    * batch-reads exactly the paths its new ledger rows name.
    *
    * Per batch the new ledger rows collect to the driver as the work
    * list (the J2 collect→literal pattern — bounded by
    * `maxManifestFilesPerTrigger` ledger files, one path per row, never
    * row data), then one distributed CSV read of those paths feeds
    * [[writeBatchIdempotent]]. Exactly-once composition is unchanged:
    * the checkpoint tracks ledger rows, redelivery overwrites its own
    * `batch_id` partition. A path ledgered twice in ONE batch dedups
    * here; a path ledgered again in a LATER batch re-ingests (the ledger
    * is the source of truth — producers append each file once).
    *
    * Rows carry `source_file` provenance (S2) exactly like the
    * directory-scan path. Returns the accumulated sink (empty-schema
    * read guarded for the nothing-ever-ingested case), on one partition
    * while small, as in [[ingest]]. */
  def ingestManifest(spark: SparkSession, manifestDir: String,
      sinkDir: String, checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType,
      maxManifestFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.format("text")
    maxManifestFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val q = reader.load(manifestDir).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val paths = batch.select("value").distinct().collect()
          .map(_.getString(0).trim).filter(_.nonEmpty).sorted
        if (paths.nonEmpty) {
          val data = spark.read
            .format("csv")
            .option("header", "true")
            .option("inferSchema", "false")
            .schema(schema)
            .load(paths.toIndexedSeq: _*)
            .withColumn("source_file", col("_metadata.file_path"))
          writeBatchIdempotent(data, batchId, sinkDir)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    if (new java.io.File(sinkDir).exists()) SmallTable.onePartition(spark.read.parquet(sinkDir))
    else spark.emptyDataFrame
  }

  /** Full medallion DAG over a streaming-ingested bronze: identical
    * downstream semantics to [[DiabetesPipeline.run]], only the ingest
    * differs. `workDir` holds sink + checkpoint + table parquet. */
  def runPipeline(spark: SparkSession, rawDir: String, workDir: String,
      rc: RunContext): PipelineResult = {
    val bronze = ingest(spark, rawDir, s"$workDir/_stream/bronze",
      s"$workDir/_stream/checkpoint", rc)
    val defs = DiabetesPipeline.tableDefs(spark, rc, _ => bronze)
    PipelineGraph.run(spark, defs, workDir)
  }
}
