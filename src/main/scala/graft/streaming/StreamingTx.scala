package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.sources.TxLog

/** Streaming ingest into the transactional table format — the Delta
  * streaming-sink semantics (idempotent txn writes), composed from the
  * engine's own parts: a checkpointed file stream (the
  * [[StreamingBronze]] discipline) delivering micro-batches to
  * [[TxLog.appendBatch]], whose (appId, batchId) high-water mark makes
  * AT-LEAST-ONCE foreachBatch delivery EXACTLY-ONCE in the table.
  *
  * Two independent idempotence layers, deliberately redundant exactly
  * like Delta + Structured Streaming in production:
  *  - the checkpoint's file log stops a healthy rerun from re-reading
  *    processed files at all;
  *  - the table's txn action stops a REPLAYED batch (crash between sink
  *    write and checkpoint commit, zombie executor, restored/lost
  *    checkpoint) from landing twice — the failure modes the checkpoint
  *    alone cannot cover.
  *
  * Checkpoint LOSS is dedup-safe but not loss-safe (Delta's documented
  * txn caveat): a restart with a fresh checkpoint re-reads the whole
  * source as batch 0, and the txn high-water mark skips it wholesale —
  * files that arrived AFTER the lost checkpoint are folded into that
  * replayed batch and silently dropped. The guard requires
  * batchId→content determinism; pair the appId's lifetime 1:1 with the
  * checkpoint (rebuilt checkpoint ⇒ new appId, then backfill-dedup), or
  * ingest from a ledger whose batches are durable.
  *
  * `appId` identifies the logical stream; it must be stable across
  * restarts of the same stream (pair it 1:1 with the checkpoint) and
  * distinct across different streams writing the same table.
  */
object StreamingTx {

  /** The file stream behind every CSV ingest: `rawDir`'s CSV files with
    * a header row, read under an explicit `schema` (no inference), at
    * most `maxFilesPerTrigger` files per micro-batch when set. */
  private[streaming] def csvStream(spark: SparkSession, rawDir: String, schema: StructType,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    val reader = spark.readStream
      .format("csv")
      .option("header", "true")
      .option("inferSchema", "false")
      .schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.load(rawDir)
  }

  /** Run `stream` as one AvailableNow pass into the transactional table
    * at `tableDir`: each micro-batch commits one table version tagged
    * (appId, batchId) through [[TxLog.appendBatch]]. Without an `appId`
    * the txn names the query's id, which the checkpoint persists: the
    * same checkpoint always writes as the same app, and a rebuilt one as
    * a new app. */
  private[streaming] def appendStream(stream: DataFrame, tableDir: String,
      checkpointDir: String, appId: Option[String]): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val app = appId.getOrElse(s.sparkContext.getLocalProperty(QueryIdKey))
        require(app != null, s"no streaming query id for the batch into $tableDir")
        TxLog.appendBatch(s, tableDir, batch, app, batchId): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The local property a streaming query's micro-batches run under,
    * holding its persistent id. */
  private val QueryIdKey = "sql.streaming.queryId"

  /** One AvailableNow pass of `rawDir`'s CSV files into the
    * transactional table at `tableDir`; returns the table's post-pass
    * contents. Each micro-batch commits one table version tagged
    * (appId, batchId). */
  def ingest(spark: SparkSession, rawDir: String, tableDir: String,
      checkpointDir: String, schema: StructType, appId: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    appendStream(csvStream(spark, rawDir, schema, maxFilesPerTrigger), tableDir,
      checkpointDir, Some(appId))
    TxLog.read(spark, tableDir)
  }

  /** Streaming CDC UPSERT: one AvailableNow pass delivering each
    * micro-batch to [[TxLog.mergeBatch]] — latest-wins keyed updates
    * with the same two idempotence layers as [[ingest]]. A micro-batch
    * may carry SEVERAL versions of one key (CDC streams do); merge
    * rejects duplicate keys by contract, so the batch is first
    * collapsed to its per-key LATEST row by `orderCol` (ties → the
    * struct-larger FULL row wins; keyCol alone is constant within a
    * group, so the tie-break compares every column, making the pick
    * deterministic even when a feed emits two different rows sharing
    * (key, orderCol) — give CDC feeds a real sequence column anyway).
    * One keyed exchange per batch, batch-sized state, then the
    * merge's own touched-file copy-on-write. */
  def upsert(spark: SparkSession, rawDir: String, tableDir: String,
      checkpointDir: String, schema: StructType, keyCol: String,
      orderCol: String, appId: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    require(schema.fieldNames.contains(keyCol), s"$keyCol not in schema")
    require(schema.fieldNames.contains(orderCol), s"$orderCol not in schema")
    val q = csvStream(spark, rawDir, schema, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions.{col, expr}
        val latest = batch
          .groupBy(col(keyCol))
          .agg(expr(
            s"max_by(struct(${batch.columns.mkString(", ")}), " +
              s"struct($orderCol, struct(${batch.columns.mkString(", ")}))) AS __row"))
          .select("__row.*")
        TxLog.mergeBatch(latest.sparkSession, tableDir, latest,
          keyCol, appId, batchId): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    TxLog.read(spark, tableDir)
  }
}
