package medbench

/** The metric sets: end-to-end (untraced runs) and per-layer (traced
  * runs). Every workload emits the same names; a per-layer metric of a
  * layer the workload does not drive reads 0 with 0 samples. */
object Emit {

  /** The materialized table nodes of the medallion DAG the benchmark
    * runs: all 11 but [[Arrivals.Excluded]]. */
  val tableNodes: Seq[String] = Seq(
    "diabetes_bronze", "diabetes_bronze_materialized", "diabetes_silver",
    "diabetes_demographics_summary", "diabetes_risk_analysis", "diabetes_executive_summary",
    "diabetes_data_quality_metrics", "dashboard_refresh_log", "pipeline_health_metrics",
    "data_validation_summary")

  val perLayer: Seq[(String, String)] =
    tableNodes.map(n => s"pipeline.node_s.$n" -> "s") ++ Seq(
      "pipeline.silver_medians_s" -> "s",
      "pipeline.tasks" -> "count",
      "pipeline.cpu_s" -> "s",
      "pipeline.bytes_read_mb" -> "MB",
      "pipeline.bytes_written_mb" -> "MB",
      "pipeline.files_written" -> "count",
      "pipeline.jobs" -> "count",
      "pipeline.stages" -> "count",
      "pipeline.driver_gap_s" -> "s",
      "pipeline.critical_path_s" -> "s",
      "streaming.ingest_s" -> "s",
      "streaming.batches" -> "count",
      "streaming.files" -> "count",
      "streaming.rows" -> "count",
      "txlog.commit_s" -> "s",
      "txlog.snapshot_s" -> "s",
      "txlog.commits_since_checkpoint" -> "count",
      "txpublish.publish_s" -> "s",
      "txlog.merge_s" -> "s",
      "txlog.merge.files_rewritten" -> "count",
      "txlog.merge.bytes_written_mb" -> "MB",
      "txlog.merge.write_amp" -> "ratio",
      "txlog.read.files_scanned" -> "count",
      "txlog.read.prune_ratio" -> "ratio",
      "dashboard.plan_s" -> "s",
      "dashboard.exec_s" -> "s",
      "dashboard.jobs_per_query" -> "count",
      "jvm.gc_s" -> "s",
      "jvm.cpu_util" -> "ratio",
      "spark.spill_mb" -> "MB",
      "trace.overhead_s" -> "s")

  /** `setup_s`, `op_p50_s`, `rows_per_s`, `query_p50_s`, `stored_mb`,
    * `retained_mb`. */
  def endToEnd(rep: Report, ctx: Ctx, s: Samples, setupS: Double, rowsProcessed: Double,
      stored: java.nio.file.Path): Unit = {
    val ops = s("op")
    val qs = s("query")
    rep.metric("setup_s", setupS, "s", 1)
    rep.median("op_p50_s", ops, "s")
    rep.metric("rows_per_s", if (ops.isEmpty) 0.0 else rowsProcessed / ops.sum, "1/s", ops.size)
    rep.median("query_p50_s", qs, "s")
    rep.metric("stored_mb", ctx.storedMb(stored), "MB", 1)
    rep.metric("retained_mb", ctx.retainedMb(), "MB", 1)
  }

  /** Medians of the traced ops' samples, plus the tracing overhead:
    * traced minus untraced op median within the same run, whose timed
    * ops alternate between the two (see [[Ctx.tracedOp]]). */
  def perLayer(rep: Report, s: Samples): Unit = {
    val traced = s("op.traced"); val plain = s("op.untraced")
    rep.note("trace.overhead_samples", s"traced=${traced.size} untraced=${plain.size}")
    perLayer.foreach { case (name, unit) =>
      if (name == "trace.overhead_s")
        rep.metric(name, if (traced.isEmpty || plain.isEmpty) 0.0
          else Stats.median(traced) - Stats.median(plain), unit, math.min(traced.size, plain.size))
      else rep.median(name, s(name), unit)
    }
  }

  /** The end of every workload: the metric set the run asked for. */
  def finish(rep: Report, ctx: Ctx, s: Samples, setupS: Double, rowsProcessed: Double,
      stored: java.nio.file.Path): Report = {
    if (ctx.tracer.isDefined) perLayer(rep, s)
    else endToEnd(rep, ctx, s, setupS, rowsProcessed, stored)
    rep.note("setup_phases", ctx.phases.map { case (n, t) => f"$n=$t%.2f" }.mkString(" "))
    rep.note("samples", s.names.map(n => s"$n=${s(n).size}").mkString(" "))
    rep.note("query_medians", s.names.filter(_.startsWith("query:"))
      .map(n => f"${n.drop(6)}=${Stats.median(s(n))}%.3f").mkString(" "))
    Seq("op", "op.traced", "op.untraced").filter(n => s(n).nonEmpty)
      .foreach(n => rep.note(n, s(n).map(v => f"$v%.3f").mkString(" ")))
    rep
  }
}
