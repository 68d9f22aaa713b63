package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{Dashboard, DiabetesPipeline, RunContext}

/** Golden-output tests on the reference's shipped 768-row corpus
  * (FIXTURES.md §A invariants; frozen clock). The literals are of that
  * file alone, so where it is absent the corpus tests are canceled (not
  * run), never passed on another corpus. */
class GoldenPipelineSpec extends AnyFunSuite with SparkTestBase {

  private lazy val result = DiabetesPipeline.cachedRun(spark)

  private def assumeReferenceCorpus(): Unit =
    assume(Files.isDirectory(Paths.get(DiabetesPipeline.defaultDataDir)),
      s"reference corpus ${DiabetesPipeline.defaultDataDir} is absent")

  test("silver: 768 rows, quality ≡ 100, no imputed flags (quirk §2.10.1)") {
    assumeReferenceCorpus()
    val silver = result("diabetes_silver")
    assert(silver.count() === 768)
    assert(silver.filter(col("data_quality_score") =!= 100).count() === 0)
    Seq("glucose_imputed", "bp_imputed", "skin_imputed", "insulin_imputed", "bmi_imputed")
      .foreach(f => assert(silver.filter(col(f)).count() === 0, f))
  }

  test("silver: zeros imputed with computed medians (incl. skin 29, not fallback 23)") {
    assumeReferenceCorpus()
    val silver = result("diabetes_silver")
    // 227 SkinThickness zeros imputed to the data median 29 — NOT the
    // fallback constant 23 (they differ exactly to distinguish the paths).
    assert(silver.filter(col("SkinThickness") === 29).count() >= 227)
    Seq("Glucose", "BloodPressure", "SkinThickness", "Insulin", "BMI")
      .foreach(c => assert(silver.filter(col(c) === 0).count() === 0, c))
  }

  test("executive summary: golden KPIs") {
    assumeReferenceCorpus()
    val r = result("diabetes_executive_summary").head()
    assert(r.getAs[Double]("total_patients") === 768.0)
    assert(r.getAs[Double]("diabetes_cases") === 268.0)
    assert(r.getAs[Double]("diabetes_percentage") === 34.9)
    assert(r.getAs[Double]("data_quality_score") === 100.0)
  }

  test("demographics partitions the population exactly") {
    assumeReferenceCorpus()
    val total = result("diabetes_demographics_summary")
      .agg(sum("patient_count")).head().getLong(0)
    assert(total === 768L)
  }

  test("expectations: bronze drop passes all, silver warns count zero failures") {
    assumeReferenceCorpus()
    val m = result.expectations
    assert(m.size === 4)
    assert(m.forall(_.failedCount === 0))
    assert(m.filter(_.table == "diabetes_bronze").head.passedCount === 768)
  }

  test("all 6 dashboard datasets run over the registered views") {
    assumeReferenceCorpus()
    result // force run (registers views)
    Dashboard.all.foreach { case (name, sql) =>
      assert(spark.sql(sql).count() > 0, name)
    }
  }

  test("fallback medians engage when a column is entirely zero/invalid") {
    import spark.implicits._
    val tiny = Seq(
      (1, 0, 70, 0, 0, 25.0, 0.5, 30, 1),
      (2, 0, 80, 0, 0, 30.0, 0.7, 40, 0))
      .toDF("Pregnancies", "Glucose", "BloodPressure", "SkinThickness",
        "Insulin", "BMI", "DiabetesPedigreeFunction", "Age", "Outcome")
    val s = DiabetesPipeline.silver(tiny, RunContext.golden)
    // All-zero Glucose/SkinThickness/Insulin → computed median is null →
    // reference fallbacks 117.0 / 23.0 / 125.0 (diabetes_etl_pipeline.py:123-155).
    assert(s.select("Glucose").collect().map(_.getDouble(0)).toSet === Set(117.0))
    assert(s.select("SkinThickness").collect().map(_.getDouble(0)).toSet === Set(23.0))
    assert(s.select("Insulin").collect().map(_.getDouble(0)).toSet === Set(125.0))
    // BloodPressure has valid values → computed median (80 at p=0.5 of {70,80}
    // per percentile_approx) — NOT the fallback 72.
    assert(!s.select("BloodPressure").collect().map(_.get(0)).contains(72))
  }
}
