package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline._

/** Batch-sink contract tests (round-2 verdict, next-round #7 — the
  * parquet stand-in for the reference's Delta table semantics):
  *
  *  1. Idempotent re-run: executing the full DAG twice into the SAME
  *     workDir yields identical gold tables — the overwrite sink plus the
  *     frozen clock make a rerun a no-op, so a crashed-and-retried
  *     orchestration cannot duplicate or corrupt outputs.
  *  2. Partitioned incremental refresh: a TableDef with `partitionBy`
  *     uses dynamic partition overwrite — a re-run that produces only a
  *     subset of partitions replaces exactly those and leaves the rest
  *     intact (Delta replaceWhere semantics on plain parquet).
  */
class SinkContractSpec extends AnyFunSuite with SparkTestBase {

  test("running the diabetes DAG twice into one workDir leaves gold identical") {
    val work = graft.Scratch.dir("graft-idem").toString
    val rc = RunContext.golden
    val first = DiabetesPipeline.run(spark, PimaFixture.csvDir, work, rc)
    val snap = Seq("diabetes_demographics_summary", "diabetes_risk_analysis",
      "data_validation_summary").map(t => t -> first(t).collect().map(_.toString).sorted).toMap

    val second = DiabetesPipeline.run(spark, PimaFixture.csvDir, work, rc)
    snap.foreach { case (t, rows) =>
      assert(second(t).collect().map(_.toString).sorted.sameElements(rows), t)
    }
  }

  test("partitionBy sink: re-run of a subset of days replaces only those partitions") {
    import spark.implicits._
    val work = graft.Scratch.dir("graft-part").toString

    def dayDefs(rows: Seq[(String, String, Long)]) = Seq(TableDef("daily", Nil,
      partitionBy = Seq("day"),
      build = _ => rows.toDF("day", "metric", "value")))

    // Full backfill: three daily partitions.
    PipelineGraph.run(spark, dayDefs(Seq(
      ("2026-01-01", "events", 10L),
      ("2026-01-02", "events", 20L),
      ("2026-01-03", "events", 30L))), work)
    assert(spark.read.parquet(s"$work/daily").count() === 3)

    // Incremental refresh of ONE day with a corrected value.
    PipelineGraph.run(spark, dayDefs(Seq(("2026-01-02", "events", 99L))), work)
    val after = spark.read.parquet(s"$work/daily")
      .select("day", "value").as[(String, Long)].collect().toMap
    assert(after === Map(
      "2026-01-01" -> 10L,   // untouched partition survives
      "2026-01-02" -> 99L,   // refreshed partition replaced
      "2026-01-03" -> 30L))
  }

  test("events pipeline day-partitioned silver: incremental day refresh contract") {
    import spark.implicits._
    val work = graft.Scratch.dir("graft-events-part").toString
    val rc = RunContext.golden
    val all = Td.load(spark, "/root/testdata/sf0.001", "events")

    def defs(bronze: org.apache.spark.sql.DataFrame) = Seq(
      TableDef("ev_bronze", Nil, build = _ => bronze.withColumn("ingested_at", rc.now)),
      TableDef("ev_silver", Seq("ev_bronze"),
        partitionBy = Seq("event_date"),
        build = read => EventsPipeline.silver(read("ev_bronze"), rc)
          .withColumn("event_date", date_format(col("event_day"), "yyyy-MM-dd"))))

    val res = PipelineGraph.run(spark, defs(all), work)
    // the runner's re-read pins the BUILD schema: event_date stays STRING
    // and in build position for downstream nodes (raw disk reads would
    // re-infer it as DATE and move it to the end)
    assert(res("ev_silver").schema("event_date").dataType ===
      org.apache.spark.sql.types.StringType)
    assert(res("ev_silver").columns.last === "event_date")
    val full = spark.read.parquet(s"$work/ev_silver")
    val nDays = full.select("event_date").distinct().count()
    val nRows = full.count()
    assert(nDays > 1 && nRows === all.count())

    // Re-run over a single day: every other day's partition must survive.
    // (partition-column inference reads event_date back as DATE — cast)
    val oneDay = full.select(col("event_date").cast("string"))
      .orderBy("event_date").head().getString(0)
    val filtered = all.where(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd") === oneDay)
    PipelineGraph.run(spark, defs(filtered), work)
    val after = spark.read.parquet(s"$work/ev_silver")
    assert(after.select("event_date").distinct().count() === nDays)
    assert(after.count() === nRows)
  }
}
