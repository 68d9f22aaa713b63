package medbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.pipeline.{DiabetesPipeline, PipelineGraph, RunContext}
import graft.sources.TxPublish
import graft.streaming.StreamingBronze

/** `medallion_arrivals`: small shards land one at a time, DLT's
  * serialized triggered update. Each landing is one op, timed from the
  * landed file to fresh dashboards: streaming ingest, the transactional
  * DAG with run publication, the published run resolved once, and one
  * round of the 6 dashboard datasets read through it, each query also
  * timed on its own.
  * The tables stay small, so per-node fixed cost dominates.
  *
  * The DAG runs without `diabetes_feature_correlation`: under Spark's
  * default ANSI mode its `corr()` throws `DIVIDE_BY_ZERO` whenever an
  * (age_group, bmi_category) group has two or more rows and a constant
  * column. Pima-like data of this size has such groups on most seeds:
  * BMI below 18.5 is rare (the real file's non-zero minimum is 18.2),
  * so Underweight groups are small, and median imputation makes Insulin
  * constant in many of them. Add the node back once it returns NULL on
  * zero variance. */
object Arrivals {
  val RowsPerShard = 2000
  val Backlog = 4
  val WarmOps = 1
  val TimedOps = 4
  /** The one table node left out of the DAG; see above. */
  val Excluded = "diabetes_feature_correlation"

  def run(ctx: Ctx): Report = {
    val rep = new Report
    var s = new Samples
    val raw = ctx.work.resolve("raw")
    val staging = ctx.work.resolve("staging")
    val dag = ctx.work.resolve("dag")
    val stream = dag.resolve("_stream")
    val rc = RunContext.golden

    var landed = Corpus.Counts.zero
    var shards = 0
    def landNext(): Unit = {
      landed += Corpus.land(raw, staging, ctx.seed, shards, RowsPerShard)
      shards += 1
    }
    (0 until Backlog).foreach(_ => landNext())
    ctx.phase("corpus")
    var lastRun = -1L
    var seenSourceFiles = 0

    def arrival(traced: Boolean): Unit = {
      landNext()
      val tr = ctx.tracer.filter(_ => traced)
      val batchCursor = tr.map(_.batchMark())
      val jvm0 = Tracer.jvm()
      val n0 = System.nanoTime()
      val t0 = System.currentTimeMillis()
      val bronze = StreamingBronze.ingest(ctx.spark, raw.toString, stream.resolve("bronze").toString,
        stream.resolve("checkpoint").toString, rc)
      val ingestS = (System.nanoTime() - n0) / 1e9
      val defs = DiabetesPipeline.tableDefs(ctx.spark, rc, _ => bronze).filterNot(_.name == Excluded)
      val spans = scala.collection.mutable.Map.empty[String, (Long, Long)]
      val cursor = tr.map(_.mark())
      val td0 = System.currentTimeMillis()
      val res = tr match {
        case None => PipelineGraph.run(ctx.spark, defs, dag.toString, transactionalSinks = true, publishRun = true)
        case Some(t) => t.tagged("arrival")(PipelineGraph.run(ctx.spark, t.wrap(defs, spans), dag.toString,
          transactionalSinks = true, publishRun = true))
      }
      val td1 = System.currentTimeMillis()
      val dagJobs = for (t <- tr; c <- cursor) yield t.since(c)
      val nr = System.nanoTime()
      TxPublish.readRun(ctx.spark, dag.toString).foreach { case (n, df) => df.createOrReplaceTempView(n) }
      val resolveS = (System.nanoTime() - nr) / 1e9
      Dash.round(ctx, rep, s, landed, traced)
      val opS = (System.nanoTime() - n0) / 1e9
      s.add(if (ctx.tracer.isEmpty) "op" else if (traced) "op.traced" else "op.untraced", opS)

      Check.that(s"published run ${res.publishedRun} after $lastRun",
        res.publishedRun.exists(_ > lastRun))
      lastRun = res.publishedRun.get
      val byExp = res.expectations.map(e => (e.table, e.expectation) -> e).toMap
      val b = byExp(("diabetes_bronze", "valid_file"))
      Check.equal("cumulative bronze rows", b.passedCount + b.failedCount, landed.rows)
      val age = byExp(("diabetes_silver", "valid_age"))
      Check.equal("valid_age failures", age.failedCount, landed.invalidAge)

      for (t <- tr; js <- dagJobs) {
        Tracer.addJvm(s, jvm0)
        val versions = TxPublish.manifest(dag.toString, Some(lastRun)).tables
        val ends = PipelineTrace.record(s, defs, spans, js, td0, td1,
          n => versions.get(n).flatMap(v => Tracer.commitMs(dag.resolve(n), v)),
          PipelineTrace.parquetFilesSince(dag, t0))
        val byTag = js.groupBy(_.tag)
        s.add("txlog.commit_s", Emit.tableNodes.map { n =>
          val lastJob = byTag.getOrElse(Tracer.NodeTag + n, Nil).map(_.end).foldLeft(spans(n)._2)(math.max)
          (ends(n) - lastJob) / 1000.0
        }.sum)
        s.add("txlog.commits_since_checkpoint",
          Stats.median(Emit.tableNodes.map(n => Tracer.commitsSinceCheckpoint(dag.resolve(n), versions(n)).toDouble)))
        Tracer.mtimeMs(dag.resolve("_publish").resolve(f"$lastRun%020d.json")).foreach(p =>
          s.add("txpublish.publish_s", (p - ends.values.max) / 1000.0))
        s.add("txlog.snapshot_s", resolveS)
        s.add("streaming.ingest_s", ingestS)
        val batches = batchCursor.map(t.batchesSince).getOrElse(Nil)
        s.add("streaming.batches", batches.size.toDouble)
        s.add("streaming.rows", batches.sum.toDouble)
        val files = sourceFiles(stream.resolve("checkpoint"))
        s.add("streaming.files", (files - seenSourceFiles).toDouble)
      }
      seenSourceFiles = sourceFiles(stream.resolve("checkpoint"))
    }

    def arrivalOp(traced: Boolean): Unit = {
      if (traced) ctx.tracer.foreach(_.attach())
      rep.op("arrival")(arrival(traced))
      ctx.tracer.foreach(_.detach())
      ctx.cleanup()
    }

    (0 until WarmOps).foreach(_ => arrivalOp(traced = false))
    val setupS = ctx.phase("warm-up")
    s = new Samples // warm-up timings are not measurements
    val rows0 = landed.rows
    (0 until TimedOps).foreach(i => arrivalOp(ctx.tracedOp(i)))
    rep.note("ops", TimedOps); rep.note("rows", landed.rows); rep.note("shards", shards)
    rep.note("published_runs", lastRun + 1); rep.note("excluded_node", Excluded)
    Emit.finish(rep, ctx, s, setupS, (landed.rows - rows0).toDouble, dag)
  }

  /** Distinct input files the file-stream source has committed, from its
    * metadata log in the checkpoint. */
  def sourceFiles(checkpoint: Path): Int = {
    val dir = checkpoint.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) return 0
    val ls = Files.list(dir)
    try ls.iterator().asScala.filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala.filter(_.startsWith("{")).map(l => l.split("\"path\":\"")(1).takeWhile(_ != '"')))
      .toSet.size
    finally ls.close()
  }
}
