package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{GraphAnnIndex, IvfIndex, PqIndex, Similarity}
import graft.pipeline.{Dashboard, DiabetesPipeline, PipelineGraph, RunContext}
import graft.sources.{SmallTable, TxLog, TxPublish}

/** Spark JOBS PER MAINTENANCE WINDOW (and per medallion DAG run), pinned exactly — the standing
  * regression net the round-18 steal adjudication asked for: the
  * protocol family's bench cost is job count × scheduling latency
  * (many small actions, not data volume), so an accidental extra
  * action per window is a real regression even when every result stays
  * correct — and a removed one (the r18 `knownCount` probe, the r19
  * count+stats fusion) is an improvement this suite makes visible.
  * The scenarios are deterministic (fixed generator, fixed window), so
  * the counts are reproducible numbers, not statistics; a pin moving
  * means the WINDOW'S ACTION SHAPE changed and the new number must be
  * justified, not absorbed. */
class IndexJobCountSpec extends AnyFunSuite with SparkTestBase {

  private def root(name: String): String =
    graft.Scratch.dir(s"graft-$name").toString

  /** The shared deterministic 8-dim generator (IvfIndexSpec's). */
  private def vecs(ids: Seq[Long]) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map { i =>
        Row(i, (0 until 8).map(j => ((i * 31 + j * 17) % 19 - 9) / 3.0f))
      }, 2), schema)
  }

  test("IvfIndex.maintain: one update window's job count is pinned") {
    val r = root("jobs-ivf"); val src = s"$r/src"; val idx = s"$r/idx"
    val cents = vecs((0L until 20L).map(_ * 13L)).localCheckpoint(true)
    TxLog.append(spark, src, vecs(0L until 200L))
    TxLog.enableRowTracking(spark, src)
    TxLog.setProperties(src, Map(TxLog.Cdf.Enabled -> "true"))
    val at = IvfIndex.initialize(spark, src, idx, cents)
    TxLog.update(spark, src, "vec_id % 11 = 3",
      Map("embedding" -> "transform(embedding, x -> CAST(-x AS FLOAT))"))
    val jobs = countJobs {
      IvfIndex.maintain(spark, src, idx, at, cents): Unit
    }
    info(s"IvfIndex.maintain update-window jobs: $jobs")
    assert(jobs === IvfJobs, s"IvfIndex window job shape changed: $jobs")
  }

  test("PqIndex.maintain: one update window's job count is pinned") {
    val r = root("jobs-pq"); val src = s"$r/src"; val idx = s"$r/idx"
    val base = vecs(0L until 200L)
    val cbPlan = Similarity.pqCodebook(base, "vec_id % 13 = 0", 8)
    val cb = spark.createDataFrame(
      java.util.Arrays.asList(cbPlan.collect(): _*), cbPlan.schema)
      .localCheckpoint(true)
    TxLog.append(spark, src, base)
    TxLog.enableRowTracking(spark, src)
    TxLog.setProperties(src, Map(TxLog.Cdf.Enabled -> "true"))
    val at = PqIndex.initialize(spark, src, idx, cb, 4, 2)
    TxLog.update(spark, src, "vec_id % 11 = 3",
      Map("embedding" -> "transform(embedding, x -> CAST(-x AS FLOAT))"))
    val jobs = countJobs {
      PqIndex.maintain(spark, src, idx, at, cb, 4, 2): Unit
    }
    info(s"PqIndex.maintain update-window jobs: $jobs")
    assert(jobs === PqJobs, s"PqIndex window job shape changed: $jobs")
  }

  test("GraphAnnIndex.maintain: one update window's job count is pinned") {
    val r = root("jobs-gann"); val src = s"$r/src"; val idx = s"$r/idx"
    val ok = vecs(0L until 200L).localCheckpoint(true)
    val cents = vecs((0L until 10L).map(_ * 23L))
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
      .localCheckpoint(true)
    TxLog.append(spark, src, ok)
    TxLog.enableRowTracking(spark, src)
    TxLog.setProperties(src, Map(TxLog.Cdf.Enabled -> "true"))
    val at = GraphAnnIndex.initialize(spark, src, idx, cents, 8, rounds = 1)
    TxLog.update(spark, src, "vec_id % 11 = 3",
      Map("embedding" -> "transform(embedding, x -> CAST(-x AS FLOAT))"))
    val jobs = countJobs {
      GraphAnnIndex.maintain(spark, src, idx, at, 8,
        beam = 16, hops = 2, entryCount = 4, cents = Some(cents)): Unit
    }
    info(s"GraphAnnIndex.maintain update-window jobs: $jobs")
    assert(jobs === GannJobs, s"GraphAnnIndex window job shape changed: $jobs")
  }

  /** The benchmark's arrival: a 2k-row shard lands in the stream's TxLog
    * table (every row with a file name, as the CSV stream gives it), then
    * the DAG runs over that table's read — every table node but the
    * feature correlation, committed through TxLog, the run published. */
  private final class ArrivalDag(work: String) {
    private val stream = s"$work/_stream/bronze"
    private val shard = PimaFixture.bronze(spark, 2000)
      .withColumn("file_name", coalesce(col("file_name"), lit("pima_0")))
    private val defs = DiabetesPipeline.tableDefs(spark, RunContext.golden,
        _ => SmallTable.onePartition(TxLog.read(spark, stream)))
      .filterNot(_.name == "diabetes_feature_correlation")
    def land(): Unit = TxLog.append(spark, stream, shard): Unit
    def run(): Unit =
      PipelineGraph.run(spark, defs, work, transactionalSinks = true, publishRun = true): Unit
    def lastOp(table: String): Option[String] = {
      val dir = s"$work/$table"
      TxLog.logCommit(dir, TxLog.latestVersion(dir)).map(_.op)
    }
  }

  test("arrival-shaped transactional DAG run: job count is pinned") {
    val dag = new ArrivalDag(root("jobs-dag"))
    dag.land(); dag.run()
    dag.land()
    val jobs = countJobs(dag.run())
    info(s"arrival DAG run jobs: $jobs")
    assert(jobs === DagJobs, s"arrival DAG job shape changed: $jobs")
    assert(dag.lastOp("diabetes_silver") === Some("streamingAppend"))
  }

  test("one dashboard round over the published run: job count is pinned") {
    val work = root("jobs-dash")
    val dag = new ArrivalDag(work)
    dag.land(); dag.run()
    // the benchmark's dashboard round: the run resolved once, then the
    // 6 dashboard queries over it
    val resolveJobs = countJobs {
      TxPublish.readRun(spark, work).foreach { case (n, df) => df.createOrReplaceTempView(n) }
    }
    val jobs = Dashboard.all.map { case (n, q) => n -> countJobs(spark.sql(q).collect(): Unit) }
    info(s"run resolution jobs: $resolveJobs, dashboard jobs: $jobs")
    assert(resolveJobs === 0, "resolving the published run ran a job")
    assert(jobs === DashboardJobs, s"dashboard round job shape changed: $jobs")
  }

  /** A key-clustered 8k-row table (4 appends of 2k consecutive keys,
    * one file each), then `batches` star upserts of 400 rows: 280
    * updates spread over every file, 120 new keys. Returns the jobs of
    * the last upsert and the live-file count after it. */
  private def upsertRun(name: String, dv: Boolean, batches: Int): (Int, Int) = {
    val dir = root(name)
    (0 until 4).foreach { c =>
      TxLog.append(spark, dir, spark.range(c * 2000L, (c + 1) * 2000L, 1, 1)
        .select(col("id"), (col("id") % 97).cast("int").as("v"), lit("b0").as("tag")))
    }
    if (dv) TxLog.setProperties(dir, Map(TxLog.DeletionVectors.Enabled -> "true"))
    def batch(b: Int) = {
      val upd = spark.range(0, 280, 1, 2).select(((col("id") * 29 + b * 7) % 8000).as("id"))
      val ins = spark.range(0, 120, 1, 2).select((col("id") + 8000 + b * 120).as("id"))
      upd.unionAll(ins).select(col("id"), lit(b).as("v"), lit(s"b$b").as("tag"))
    }
    (1 until batches).foreach(b => TxLog.merge(spark, dir, batch(b), "id"): Unit)
    val jobs = countJobs { TxLog.merge(spark, dir, batch(batches), "id"): Unit }
    val rows = TxLog.read(spark, dir)
    assert(rows.count() === 8000L + 120L * batches)
    assert(rows.where(s"tag = 'b$batches'").count() === 400L)
    (jobs, TxLog.snapshot(dir).files.size)
  }

  test("TxLog.merge star upsert: job count and live files are pinned (copy-on-write)") {
    val (jobs, files) = upsertRun("jobs-upsert-cow", dv = false, batches = 4)
    info(s"star upsert jobs: $jobs, live files after 4 upserts: $files")
    assert(jobs === UpsertCowJobs, s"star upsert job shape changed: $jobs")
    assert(files === UpsertCowFiles, s"star upsert file layout changed: $files")
  }

  test("TxLog.merge star upsert: job count and live files are pinned (deletion vectors)") {
    val (jobs, files) = upsertRun("jobs-upsert-dv", dv = true, batches = 4)
    info(s"star upsert jobs (DV): $jobs, live files after 4 upserts: $files")
    assert(jobs === UpsertDvJobs, s"DV star upsert job shape changed: $jobs")
    assert(files === UpsertDvFiles, s"DV star upsert file layout changed: $files")
  }

  // The pinned action shapes (local[4] test session, AQE on, fixed
  // 200-row corpus, one embedding-flip update window). Accounting:
  // IVF/PQ windows are ~12 SQL executions — the change-set checkpoint
  // + fused stats agg, then the MERGE engine's clause plan (their
  // clauses are conditional, so not the star-upsert plan pinned
  // below): the scratch staging write, the
  // FUSED key census (r20: one groupBy + bounded-fold job carries the
  // totals AND the IN-list; the separate countDistinct agg and the
  // per-column distinct().collect() are gone — 27 → 24 here), touch
  // discovery, touched rewrite, DV dead-count + sidecar stage, insert
  // anti-join stage, CDF stage — each paying 1 job per
  // AQE-materialized exchange plus the final. The graph window adds
  // planEdits' checkpointed intermediates and the per-hop beam-search
  // checkpoints (hops=2 here); its composite-key merge census fuses
  // the same way (81 → 80). A cache-for-checkpoint variant was
  // MEASURED and REVERTED in r19: it saved ~5 graph-window jobs but
  // paid columnar encode/decode on the embedding arrays — slower
  // wall-clock suite-wide.
  // (84 before the r19 last-hop-checkpoint cut in GraphAnn.searchTopK
  // — the attach search no longer pays a final materialization job;
  // 82 before the r19 batch-internal-wiring checkpoint cut — that
  // frame is consumed exactly once by the gained-union's own
  // materialization, so its eager checkpoint was a pure extra job)
  // r20 second cut: the change-set/last-image emptiness gates, drift
  // stats and arrivals counts now ride their checkpoints as
  // Dataset.observe metrics (one job instead of checkpoint + agg), the
  // edits emptiness check rides the edits checkpoint the same way, and
  // planEdits' surviving-graph view went lazy (an arrivals-free window
  // never materializes it) — IVF/PQ 24 → 22, graph 80 → 75.
  // Staging writes now collect their file stats inside the write (no
  // second groupBy-by-file job over the staged files): every staged
  // write in the window drops its stats jobs — IVF/PQ 22 → 15, graph 75 → 67.
  // The graph window's count is not stable by one: six repeats of it in
  // one JVM read 67 four times and 68 twice (75 ×4 and 76 ×2 before this
  // change); the pin holds the more frequent value.
  private val IvfJobs = 15
  private val PqJobs = 15
  private val GannJobs = 67
  // The arrival DAG's 8 table nodes past bronze each commit one staged
  // write (overwrite); silver adds its one medians job. Every table is
  // under the small-table threshold, so each node reads its upstream on
  // one partition and its write is a single job with no AQE stage jobs
  // (26 while every aggregate still shuffled). Before in-write stats
  // each staged write also paid a stats groupBy-by-file scan. The two
  // bronze nodes mirror the shard's files by hard link: bronze runs one
  // job, its valid_file count over the new rows, and the materialized
  // copy none (11 while both rewrote the whole table). The second
  // arrival lands the same rows again, so silver's medians hold and it
  // appends the new rows instead of overwriting: still its medians job
  // plus one write, the expectation counts observed in that write.
  private val DagJobs = 10
  // One job per dashboard query over the one-partition gold tables;
  // bmi_distribution's scalar subquery runs as a job of its own.
  private val DashboardJobs = Map("kpi_cards" -> 1, "rate_by_age_group" -> 1,
    "bmi_distribution" -> 2, "risk_matrix" -> 1, "pregnancy_outcomes" -> 1,
    "risk_distribution" -> 1)
  // One star upsert (the fourth into the same table): the source
  // staging write, the two-job key census, touch discovery (the key
  // broadcast, the grouped-by-key shuffle, its collect), then the
  // remainder rewrite (key broadcast, write) — or, under deletion
  // vectors, the DV anti-join stage of the already-vectored candidates
  // in discovery, and the position write over the partial files alone
  // (key broadcast, DV anti-join stage, write). Measured before the
  // merge engines were unified, `mergeImpl` paid 10 / 12 jobs: a
  // distinct() shuffle ahead of every key broadcast (the census already
  // proves the keys unique). Live files after the 4 upserts: 20 at both.
  private val UpsertCowJobs = 8
  private val UpsertCowFiles = 20
  private val UpsertDvJobs = 10
  private val UpsertDvFiles = 20
}
