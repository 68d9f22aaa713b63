package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{DiabetesPipeline, RunContext}

/** Production-clock smoke test (round-2 verdict, next-round #6): the
  * golden/oracle paths always run with the frozen [[RunContext]], so a
  * regression in live mode (real current_timestamp/current_date/uuid —
  * e.g. a timezone or fold difference) would otherwise ship invisibly.
  * No hash compare is possible with a live clock; instead assert the
  * structural invariants that do not depend on the clock. */
class LiveModeSpec extends AnyFunSuite with SparkTestBase {

  test("full DAG with RunContext.live: counts, non-null clocks, well-formed uuid") {
    val work = graft.Scratch.dir("graft-live").toString
    val res = DiabetesPipeline.run(
      spark, PimaFixture.csvDir, work, RunContext.live)

    // Row counts match the frozen run's invariants (clock-independent).
    assert(res("diabetes_silver").count() === 768)
    assert(res("diabetes_bronze").count() === 768)
    val exec = res("diabetes_executive_summary")
    assert(exec.count() === 1)

    // Every clock column is populated and within this test run's window.
    val silverTs = res("diabetes_silver")
      .agg(min("transformation_timestamp"), max("transformation_timestamp"),
        sum(when(col("transformation_timestamp").isNull, 1).otherwise(0)))
      .head()
    assert(silverTs.getLong(2) === 0L, "null transformation_timestamp in live mode")
    val year = java.time.Year.now.getValue
    assert(silverTs.getTimestamp(0).toLocalDateTime.getYear >= year - 1)
    assert(silverTs.getTimestamp(1).toLocalDateTime.getYear <= year + 1)

    // refresh log: pipeline_run_id (uuid()) must be a well-formed v4 uuid, fresh per run.
    val id1 = res("dashboard_refresh_log").select("pipeline_run_id").head().getString(0)
    assert(id1.matches("[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[0-9a-f]{4}-[0-9a-f]{12}"), id1)
    val work2 = graft.Scratch.dir("graft-live2").toString
    val res2 = DiabetesPipeline.run(
      spark, PimaFixture.csvDir, work2, RunContext.live)
    val id2 = res2("dashboard_refresh_log").select("pipeline_run_id").head().getString(0)
    assert(id1 != id2, "uuid() must differ across live runs")

    // Quirk invariants hold regardless of clock (SURVEY.md §2.10.1).
    val q = res("diabetes_silver")
      .agg(sum(when(col("glucose_imputed"), 1).otherwise(0)),
        min("data_quality_score"), max("data_quality_score")).head()
    assert(q.getLong(0) === 0L)
    assert(q.getInt(1) === 100 && q.getInt(2) === 100)
  }
}
