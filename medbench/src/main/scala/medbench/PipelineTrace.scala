package medbench

import java.nio.file.{Files, Path}

import graft.pipeline.TableDef

/** Per-node and per-run pipeline samples of one traced DAG run. */
object PipelineTrace {

  /** A node ends at the latest of: its build returning, its last tagged
    * job ending, and its sink's commit marker (`sinkEnd`, epoch ms)
    * landing. The marker is what times the commit work outside Spark jobs that
    * follows the last job. Returns each table node's end. */
  def record(s: Samples, defs: Seq[TableDef], spans: collection.Map[String, (Long, Long)],
      js: Seq[Tracer.Job], t0: Long, t1: Long, sinkEnd: String => Option[Long],
      filesWritten: Long): Map[String, Long] = {
    val byTag = js.groupBy(_.tag)
    val ends = Emit.tableNodes.map { n =>
      val (_, b1) = spans(n)
      val lastJob = byTag.getOrElse(Tracer.NodeTag + n, Nil).map(_.end).filter(_ > 0)
      n -> (Seq(b1) ++ lastJob ++ sinkEnd(n).filter(_ >= t0)).max
    }.toMap
    val durS = defs.map { d =>
      val (b0, b1) = spans(d.name)
      d.name -> (ends.getOrElse(d.name, b1) - b0) / 1000.0
    }.toMap
    Emit.tableNodes.foreach(n => s.add(s"pipeline.node_s.$n", durS(n)))
    spans.get("diabetes_silver").foreach { case (b0, b1) => s.add("pipeline.silver_medians_s", (b1 - b0) / 1000.0) }
    s.add("pipeline.critical_path_s", Tracer.criticalPathS(defs, durS))
    val tot = Tracer.totals(js)
    s.add("pipeline.jobs", tot.jobs)
    s.add("pipeline.stages", tot.stages)
    s.add("pipeline.tasks", tot.tasks)
    s.add("pipeline.cpu_s", tot.cpuS)
    s.add("pipeline.bytes_read_mb", tot.readMb)
    s.add("pipeline.bytes_written_mb", tot.writtenMb)
    s.add("spark.spill_mb", tot.spillMb)
    s.add("pipeline.files_written", filesWritten.toDouble)
    s.add("pipeline.driver_gap_s", (t1 - t0) / 1000.0 - Tracer.coveredS(js, t0, t1))
    ends
  }

  /** Parquet data files under `root` written at or after `sinceMs`. */
  def parquetFilesSince(root: Path, sinceMs: Long): Long = {
    val w = Files.walk(root)
    try {
      var n = 0L
      w.iterator().forEachRemaining { p =>
        val name = p.getFileName.toString
        if (name.endsWith(".parquet") && !name.startsWith(".") &&
            !p.toString.contains("/_txlog/") && Files.isRegularFile(p) &&
            Files.getLastModifiedTime(p).toMillis >= sinceMs) n += 1
      }
      n
    } finally w.close()
  }
}
