package medbench

import org.apache.spark.sql.Row

import graft.pipeline.Dashboard

/** One round of the 6 dashboard datasets, each query timed and checked
  * against the corpus counts the generator reported. */
object Dash {

  private def num(v: Any): Double = v match {
    case n: java.lang.Number => n.doubleValue
    case null => Double.NaN
    case x => x.toString.toDouble
  }

  private def sumCol(rows: Array[Row], c: String): Double = rows.map(r => num(r.getAs[Any](c))).sum

  /** Every dataset re-adds to the patient total; the KPI cards also
    * carry the diabetes cases. */
  def check(name: String, rows: Array[Row], want: Corpus.Counts): Unit = name match {
    case "kpi_cards" =>
      val kv = rows.map(r => r.getString(0) -> num(r.get(1))).toMap
      Check.equal("kpi Total Patients", kv.get("Total Patients"), Some(want.rows.toDouble))
      Check.equal("kpi Diabetes Cases", kv.get("Diabetes Cases"), Some(want.cases.toDouble))
    case "rate_by_age_group" | "bmi_distribution" =>
      Check.equal(s"$name total_patients", sumCol(rows, "total_patients"), want.rows.toDouble)
    case "risk_matrix" =>
      Check.equal("risk_matrix patients", sumCol(rows, "patients"), want.rows.toDouble)
    case "pregnancy_outcomes" =>
      Check.equal("pregnancy_outcomes total_patients", sumCol(rows, "total_patients"), want.rows.toDouble)
    case "risk_distribution" =>
      Check.equal("risk_distribution patient_count", sumCol(rows, "patient_count"), want.rows.toDouble)
    case other => throw new CheckFailed(s"unknown dataset $other")
  }

  /** Run the 6 datasets once. Query times go to `s("query")`; a traced
    * round also splits each into planning and execution and counts its
    * jobs. */
  def round(ctx: Ctx, rep: Report, s: Samples, want: Corpus.Counts, traced: Boolean): Unit =
    Dashboard.all.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      rep.op(s"query $name") {
        val tr = ctx.tracer.filter(_ => traced)
        val cursor = tr.map(_.mark())
        val (rows, planS, execS) = tr.fold(runQuery(ctx, sql))(t => t.tagged("query:" + name)(runQuery(ctx, sql)))
        s.add("query", planS + execS)
        s.add("query:" + name, planS + execS)
        for (t <- tr; c <- cursor) {
          s.add("dashboard.plan_s", planS)
          s.add("dashboard.exec_s", execS)
          s.add("dashboard.jobs_per_query", t.since(c).size.toDouble)
        }
        check(name, rows, want)
      }
    }

  private def runQuery(ctx: Ctx, sql: String): (Array[Row], Double, Double) = {
    val t0 = System.nanoTime()
    val df = ctx.spark.sql(sql)
    df.queryExecution.executedPlan
    val t1 = System.nanoTime()
    val rows = df.collect()
    val t2 = System.nanoTime()
    (rows, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }
}
