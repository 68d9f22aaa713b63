package medbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, functions => F}
import org.apache.spark.sql.types._

import graft.sources.TxLog

/** `txlog_upserts`: keyed MERGE upserts into a TxLog patient table, the
  * sources layer alone. Each op is one MERGE commit of a batch of
  * updates (keys skewed toward the most recent) and inserts (new keys
  * above the current maximum); rounds of snapshot reads follow it — a
  * count, a point lookup and a time-travel count — timed as queries.
  *
  * The base table is written as [[BaseCommits]] appends, so that the
  * timed merges cross the log's checkpoint at version
  * `TxLog.checkpointInterval` (10): log replay before and after a
  * checkpoint is measured in every run.
  *
  * Assumed, not taken from a source: the 70/30 update/insert split of a
  * batch and the recency skew of updated keys (key = max − max·u³ with u
  * uniform, so 58% of updates fall in the newest fifth of the keys),
  * chosen to model a patient registry where recent patients are the
  * ones whose records change. */
object Upserts {
  val BaseRows = 1000000L
  val BaseCommits = 7
  val BatchRows = 10000
  val UpdateShare = 0.7
  val WarmOps = 1
  val TimedOps = 4
  val ReadRounds = 3

  val schema: StructType = StructType(Seq(
    StructField("patient_id", LongType, nullable = false),
    StructField("glucose", IntegerType), StructField("bmi", DoubleType),
    StructField("age", IntegerType), StructField("outcome", IntegerType),
    StructField("risk_score", DoubleType), StructField("batch", IntegerType)))

  /** Glucose of key `k` as written by batch `b` (b > 0): checkable
    * without keeping the rows. */
  def glucoseOf(seed: Long, b: Int, k: Long): Int = {
    44 + Corpus.rng(seed, (b.toLong << 40) ^ k).nextInt(156)
  }

  def run(ctx: Ctx): Report = {
    val rep = new Report
    var s = new Samples
    val spark = ctx.spark
    val dir = ctx.work.resolve("patients")
    val path = dir.toString

    // Base table: appends of consecutive key ranges, so files are
    // key-clustered and a point lookup can prune.
    val h = F.xxhash64(F.col("id"), F.lit(ctx.seed))
    val rowsAt = mutable.LongMap.empty[Long]
    (0 until BaseCommits).foreach { c =>
      val (lo, hi) = (c * BaseRows / BaseCommits, (c + 1) * BaseRows / BaseCommits)
      val v = TxLog.append(spark, path, spark.range(lo, hi, 1, 1).select(
        F.col("id").as("patient_id"),
        (F.pmod(h, F.lit(156)) + 44).cast(IntegerType).as("glucose"),
        (F.pmod(h, F.lit(490)) / 10.0 + 18.2).as("bmi"),
        (F.pmod(F.shiftright(h, 8), F.lit(61)) + 21).cast(IntegerType).as("age"),
        F.pmod(F.shiftright(h, 16), F.lit(2)).cast(IntegerType).as("outcome"),
        (F.pmod(F.shiftright(h, 24), F.lit(1000)) / 1000.0).as("risk_score"),
        F.lit(0).as("batch")))
      rowsAt(v) = hi
    }
    var live = BaseRows
    var maxKey = BaseRows - 1
    val lastBatch = mutable.LongMap.empty[Int]
    var version = TxLog.latestVersion(path)
    val base = TxLog.snapshot(path)
    Check.equal("base rows", base.rows, BaseRows)
    ctx.phase("table")

    def source(b: Int): (Seq[Row], Seq[Long]) = {
      val r = Corpus.rng(ctx.seed, -1L - b)
      val updates = mutable.LinkedHashSet.empty[Long]
      val nUpd = (BatchRows * UpdateShare).toInt
      while (updates.size < nUpd) {
        val u = r.nextDouble()
        updates += maxKey - (maxKey * u * u * u).toLong
      }
      val inserts = (1 to BatchRows - nUpd).map(maxKey + _)
      val keys = updates.toSeq ++ inserts
      keys.map { k =>
        Row(k, glucoseOf(ctx.seed, b, k), 18.2 + r.nextInt(490) / 10.0, 21 + r.nextInt(61),
          r.nextInt(2), r.nextInt(1000) / 1000.0, b)
      } -> keys
    }

    def mergeOp(b: Int, traced: Boolean): Unit = {
      val (rows, keys) = source(b)
      val src = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      val tr = ctx.tracer.filter(_ => traced)
      val before = tr.map(_ => TxLog.snapshot(path))
      val cursor = tr.map(_.mark())
      val jvm0 = Tracer.jvm()
      val n0 = System.nanoTime()
      val v = tr.fold(TxLog.merge(spark, path, src, "patient_id"))(_.tagged("merge")(TxLog.merge(spark, path, src, "patient_id")))
      val opS = (System.nanoTime() - n0) / 1e9
      s.add(if (ctx.tracer.isEmpty) "op" else if (traced) "op.traced" else "op.untraced", opS)
      Check.that(s"merge committed version $v after $version", v > version)
      live += keys.count(_ > maxKey)
      maxKey = math.max(maxKey, keys.max)
      keys.foreach(k => lastBatch(k) = b)
      version = v
      rowsAt(v) = live
      for (t <- tr; c <- cursor; pre <- before) {
        Tracer.addJvm(s, jvm0)
        s.add("txlog.merge_s", opS)
        val js = t.since(c)
        val ns = System.nanoTime()
        val after = TxLog.snapshot(path, Some(v))
        s.add("txlog.snapshot_s", (System.nanoTime() - ns) / 1e9)
        val prePaths = pre.files.map(_.path).toSet
        val added = after.files.filterNot(f => prePaths.contains(f.path))
        val postPaths = after.files.map(_.path).toSet
        val written = added.map(_.bytes).sum
        s.add("txlog.merge.files_rewritten", pre.files.count(f => !postPaths.contains(f.path)).toDouble)
        s.add("txlog.merge.bytes_written_mb", written / 1e6)
        s.add("txlog.merge.write_amp", written / (BatchRows * pre.files.map(_.bytes).sum.toDouble / pre.rows))
        s.add("txlog.commits_since_checkpoint", Tracer.commitsSinceCheckpoint(dir, v).toDouble)
        val lastJob = js.map(_.end).foldLeft(0L)(math.max)
        Tracer.commitMs(dir, v).foreach(c => s.add("txlog.commit_s", math.max(0L, c - lastJob) / 1000.0))
        s.add("spark.spill_mb", Tracer.totals(js).spillMb)
      }
    }

    def timedRead[A](traced: Boolean, label: String)(body: => A): A = {
      val n0 = System.nanoTime()
      val a = ctx.tracer.filter(_ => traced).fold(body)(_.tagged(label)(body))
      val t = (System.nanoTime() - n0) / 1e9
      s.add("query", t)
      s.add("query:" + label, t)
      a
    }

    def reads(b: Int, traced: Boolean, rounds: Int): Unit = {
      val r = Corpus.rng(ctx.seed, -1000000L - b)
      (0 until rounds).foreach { round =>
        rep.op("read count") {
          val n = timedRead(traced, "read:count")(TxLog.read(spark, path).count())
          Check.equal(s"row count at version $version", n, live)
        }
        rep.op("read point") {
          // Round 0 reads a key this merge just wrote; later rounds any key.
          val k = if (round == 0) maxKey - r.nextInt(BatchRows / 2) else r.nextLong(maxKey + 1)
          val df = TxLog.readRange(spark, path, "patient_id", k.toString, k.toString)
          val got = timedRead(traced, "read:point")(df.collect())
          Check.equal(s"rows for key $k", got.length, 1)
          val wantBatch = lastBatch.getOrElse(k, 0)
          Check.equal(s"batch of key $k", got(0).getAs[Int]("batch"), wantBatch)
          if (wantBatch > 0) Check.equal(s"glucose of key $k", got(0).getAs[Int]("glucose"), glucoseOf(ctx.seed, wantBatch, k))
          if (traced) {
            val scanned = Tracer.filesScanned(df).toDouble
            s.add("txlog.read.files_scanned", scanned)
            s.add("txlog.read.prune_ratio", 1.0 - scanned / TxLog.snapshot(path).files.size)
          }
        }
        rep.op("read time travel") {
          val back = version - 1 - round % version
          val n = timedRead(traced, "read:asof")(TxLog.read(spark, path, Some(back)).count())
          Check.equal(s"row count as of version $back", n, rowsAt(back))
        }
      }
    }

    def op(b: Int, traced: Boolean, rounds: Int): Unit = {
      if (traced) ctx.tracer.foreach(_.attach())
      val merged = rep.op("merge")(mergeOp(b, traced)).isDefined
      if (merged) reads(b, traced, rounds)
      ctx.tracer.foreach(_.detach())
      ctx.cleanup()
    }

    (1 to WarmOps).foreach(b => op(b, traced = false, rounds = 1))
    val setupS = ctx.phase("warm-up")
    s = new Samples // warm-up timings are not measurements
    val v0 = version
    (0 until TimedOps).foreach(i => op(WarmOps + 1 + i, ctx.tracedOp(i), ReadRounds))
    rep.note("ops", TimedOps); rep.note("rows", live); rep.note("version", version)
    rep.note("checkpoints_crossed", version / TxLog.checkpointInterval - v0 / TxLog.checkpointInterval)
    Emit.finish(rep, ctx, s, setupS, BatchRows.toDouble * (s("op").size), dir)
  }
}
