package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured-Streaming analytics over the `events` stream table —
  * beyond-reference capability (the reference's only stream is file
  * ingest, SURVEY.md §2.9; a real deployment of this engine also needs
  * event-time windowed aggregation).
  *
  * Scale notes: the aggregation state is per (window × event_type) — tiny
  * and mergeable; with `withWatermark` + append mode Spark drops window
  * state once the watermark passes, so state is bounded at any volume.
  * Complete mode is used where the finite AvailableNow run must expose
  * the final, still-open window for the oracle comparison (append mode
  * would rightly withhold it); results land in a temp-dir FILE sink and
  * are read back as batch — no result row ever buffers on the driver,
  * so the same helpers survive an unbounded-output query.
  */
object StreamingOps {

  /** A session for ONE finite stream run whose shuffle-partition count
    * — which for a stateful streaming operator is also its STATE-STORE
    * count, each paying a per-micro-batch commit + maintenance cost —
    * is right-sized to the streamed input instead of inheriting the
    * batch session's core-count default: ceil(inputBytes /
    * maxPartitionBytes), clamped to [1, the parent session's shuffle
    * partitions] (guide §5). Input bytes come from the Hadoop
    * filesystem of each path (`getContentSummary`: recursive, any
    * scheme); a probe that finds no bytes keeps the parent's count
    * rather than guessing low. The bound is derived from DATA SIZE, so
    * it grows with the declared SF and never encodes the local core
    * count; the parent's setting stays the ceiling, so a cluster-sized
    * configuration is respected. The child session starts from the
    * parent's runtime SQL settings. Legitimate ONLY for per-run-fresh
    * checkpoints (every caller here checkpoints into a
    * Scratch.dir temp directory): a persistent checkpoint pins its
    * state-store count at first run and must never be re-sized —
    * [[windowedEventCountsAppend]] takes a caller-owned checkpoint and
    * deliberately does NOT use this. */
  private[graft] def sizedStreamSession(spark: SparkSession,
      inputDirs: Seq[String]): SparkSession = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val bytes = inputDirs.map { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(hadoopConf)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }.sum
    val maxPart = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val parent = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val n =
      if (bytes <= 0L) parent
      else math.max(1L, math.min(parent.toLong, (bytes + maxPart - 1) / maxPart)).toInt
    val ss = spark.newSession()
    // static and core settings are shared through the SparkContext, so
    // only the parent's runtime settings differ here
    val inherited = ss.conf.getAll
    spark.conf.getAll.foreach { case (k, v) =>
      if (!inherited.get(k).contains(v)) ss.conf.set(k, v)
    }
    ss.conf.set("spark.sql.shuffle.partitions", n)
    ss
  }

  /** Run a finite (AvailableNow) streaming frame to a parquet TEMP SINK
    * and read it back as batch — the result path that keeps the driver
    * out of the data plane. Append mode uses the file sink's own
    * `_spark_metadata` exactly-once commit log; complete-mode
    * aggregations overwrite per batch via foreachBatch (deterministic:
    * the final batch IS the complete result). */
  private def runToParquet(df: DataFrame, mode: String): DataFrame = {
    val spark = df.sparkSession
    val out = graft.Scratch.dir("graft-stream-out").toString
    val ckpt = graft.Scratch.dir("graft-stream-ckpt").toString
    val q =
      if (mode == "append")
        df.writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
      else
        df.writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("overwrite").parquet(out)
          }
          .option("checkpointLocation", ckpt)
          .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.read.schema(df.schema).parquet(out)
  }

  /** events.parquet read as a stream. The file source needs an explicit
    * schema, and the `ts` encoding has drifted across testdata
    * generations (TIMESTAMP(NANOS)-as-LONG, then TIMESTAMP_NTZ micros) —
    * so read the REAL footer schema via a batch probe and let
    * [[graft.Td.canonicalizeTs]] apply the matching conversion, exactly
    * as the batch path does. Never pin `ts` to one physical type here. */
  def eventsSchema(spark: SparkSession, sfDir: String): StructType = {
    graft.Td.configureSession(spark) // nanos files need nanosAsLong to load at all
    spark.read.parquet(s"$sfDir/events.parquet").schema
  }

  /** Event-time 1-day tumbling windows × event_type: count + exact sum.
    * Runs the stream to completion (AvailableNow) and returns the final
    * window table. */
  def windowedEventCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val src = streamableDir(sfDir)
    val ss = sizedStreamSession(spark, Seq(src))
    val raw = ss.readStream
      .schema(eventsSchema(ss, sfDir))
      .parquet(src)
    val stream = graft.Td.canonicalizeTs(raw)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
    runToParquet(stream, "complete")
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
  }

  /** PRODUCTION shape of [[windowedEventCounts]]: watermark + APPEND
    * mode to a parquet file sink. Only windows the advancing watermark
    * has CLOSED are emitted — exactly once, via the sink's
    * `_spark_metadata` commit log riding the query checkpoint — and
    * each window's state is dropped the moment it closes, so state
    * stays bounded on an unbounded stream. The still-open tail window
    * is rightly withheld (it would be emitted by a later trigger once
    * events past the watermark arrive); the memory/complete variant
    * above exists precisely because a finite oracle comparison needs
    * that final window too. Returns the sink as a batch DataFrame.
    * Proven equivalent to the batch aggregation on closed windows in
    * StreamWindowAppendSpec. */
  def windowedEventCountsAppend(spark: SparkSession, sfDir: String,
      outDir: String, checkpointDir: String): DataFrame = {
    val raw = spark.readStream
      .schema(eventsSchema(spark, sfDir))
      .parquet(streamableDir(sfDir))
    val agg = graft.Td.canonicalizeTs(raw)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))
    val q = agg.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir)
  }

  /** Streaming exactly-once DEDUPLICATION by key: every event is
    * DELIVERED TWICE (two directory entries pointing at the same
    * parquet — the at-least-once redelivery a real ingest must absorb),
    * and `dropDuplicatesWithinWatermark` must restore exact-once
    * semantics before the rows land in the sink. State holds one key
    * per event inside the watermark horizon and is dropped as the
    * watermark passes — bounded on an unbounded stream, unlike plain
    * `dropDuplicates` whose state grows forever. The sink is read back
    * as a batch table; the caller aggregates it against the
    * single-delivery oracle, so a dedup miss doubles every count and
    * breaks the hash. */
  def dedupedDoubleDelivery(spark: SparkSession, sfDir: String): DataFrame = {
    val src = doubledDir(sfDir)
    val ss = sizedStreamSession(spark, Seq(src))
    val raw = ss.readStream
      .schema(eventsSchema(ss, sfDir))
      .parquet(src)
    // dedup THEN aggregate, both in-stream (chained stateful operators):
    // the sink holds one row per event_type instead of pinning the
    // whole deduplicated corpus in driver memory for the session
    val agg = graft.Td.canonicalizeTs(raw)
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 4))).as("__dq"))
    runToParquet(agg, "complete")
      .select(col("event_type"), col("n_events"),
        col("__dq").cast(DoubleType).as("sum_value"))
  }

  /** Stream-stream INTERVAL join — conversion attribution: every
    * (click, purchase) pair of the same user with the purchase at most
    * `windowHours` after the click. Both sides are unbounded streams;
    * the time-bound condition plus both watermarks is what lets Spark
    * EVICT join state (a click older than the watermark minus the
    * window can never match a future purchase and is dropped), so state
    * stays bounded at any volume — without the bound the join would
    * buffer both streams forever. Inner joins emit pairs the moment
    * both rows are in state (no watermark withholding), so one
    * AvailableNow pass over a finite source yields the complete batch
    * answer — which is exactly what the oracle checks. */
  def clickPurchaseAttribution(spark: SparkSession, sfDir: String,
      windowHours: Int = 24, userFilter: String = "true"): DataFrame = {
    val src = streamableDir(sfDir)
    val ss = sizedStreamSession(spark, Seq(src))
    def events() = graft.Td.canonicalizeTs(
      ss.readStream
        .schema(eventsSchema(ss, sfDir))
        .parquet(src))
    val clicks = events().where(s"event_type = 'click' AND ($userFilter)")
      .selectExpr("event_id AS click_id", "user_id", "ts AS click_ts")
      .withWatermark("click_ts", "1 day")
    val purchases = events().where(s"event_type = 'purchase' AND ($userFilter)")
      .selectExpr("event_id AS purchase_id", "user_id AS p_user",
        "ts AS purchase_ts", "value AS purchase_value")
      .withWatermark("purchase_ts", "1 day")
    val joined = clicks.join(purchases, expr(
      s"""user_id = p_user
          AND purchase_ts >= click_ts
          AND purchase_ts <= click_ts + INTERVAL $windowHours HOURS"""))
    // append mode through the parquet file sink: join output flows
    // executor→files, never through driver memory — the path an
    // unbounded-output stream needs
    runToParquet(joined, "append")
  }

  private val doubledCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def doubledDir(sfDir: String): String =
    doubledCache.getOrElseUpdate(sfDir, {
      val dir = graft.Scratch.dir("graft-events-doubled")
      Seq("events.parquet", "events_redelivered.parquet").foreach { n =>
        java.nio.file.Files.createSymbolicLink(
          dir.resolve(n), java.nio.file.Paths.get(s"$sfDir/events.parquet"))
      }
      dir.toString
    })

  /** The file stream source only accepts directories; the testdata ships
    * single parquet files — expose each via a per-dir symlink dir. */
  private val linkCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def streamableDir(sfDir: String): String =
    linkCache.getOrElseUpdate(sfDir, {
      val dir = graft.Scratch.dir("graft-events-stream")
      java.nio.file.Files.createSymbolicLink(
        dir.resolve("events.parquet"), java.nio.file.Paths.get(s"$sfDir/events.parquet"))
      dir.toString
    })
}
