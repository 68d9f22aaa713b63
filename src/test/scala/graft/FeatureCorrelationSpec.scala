package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{DiabetesPipeline, RunContext}

/** The gold feature-correlation node under Spark's default ANSI mode: a
  * group with a constant column yields a NULL correlation (the non-ANSI
  * `corr` result) instead of failing the node with DIVIDE_BY_ZERO, and
  * every other group keeps `corr`'s value. */
class FeatureCorrelationSpec extends AnyFunSuite with SparkTestBase {

  test("a constant column in one group gives NULL, not DIVIDE_BY_ZERO") {
    import spark.implicits._
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    // (age_group, bmi_category, Glucose, BMI, Age, Pregnancies, BloodPressure, Insulin, Outcome)
    val constIns = (0 until 5).map(i =>
      ("Young (< 30)", "Underweight", 90 + i * 7, 17.0 + i * 0.3, 22 + i, i % 3, 60 + i, 125, i % 2))
    val varied = (0 until 40).map(i =>
      ("Adult (30-39)", "Obese", 80 + i * 5 % 90, 30.0 + i * 37 % 11, 30 + i % 10, i % 6,
        60 + i * 3 % 30, 50 + i * 13 % 200, i % 2))
    val single = Seq(("Senior (60+)", "Normal", 100, 22.0, 70, 2, 80, 90, 1))
    val silver = (constIns ++ varied ++ single).toDF("age_group", "bmi_category", "Glucose",
      "BMI", "Age", "Pregnancies", "BloodPressure", "Insulin", "Outcome")
    val got = DiabetesPipeline.featureCorrelation(silver, RunContext.golden)
      .collect().map(r => r.getAs[String]("bmi_category") -> r).toMap
    val u = got("Underweight")
    assert(u.isNullAt(u.fieldIndex("insulin_glucose_corr")))
    assert(!u.isNullAt(u.fieldIndex("glucose_bmi_corr")))
    assert(u.getAs[String]("correlation_strength") === "Strong")
    val s = got("Normal")
    Seq("glucose_bmi_corr", "age_pregnancies_corr", "bp_bmi_corr", "insulin_glucose_corr")
      .foreach(c => assert(s.isNullAt(s.fieldIndex(c)), c))
    // non-degenerate groups keep Spark's corr
    val want = silver.groupBy("bmi_category").agg(
      corr("Glucose", "BMI"), corr("Age", "Pregnancies"), corr("BloodPressure", "BMI"))
      .collect().map(r => r.getString(0) -> r).toMap
    Seq("Underweight", "Obese").foreach { b =>
      Seq("glucose_bmi_corr", "age_pregnancies_corr", "bp_bmi_corr").zipWithIndex.foreach {
        case (c, i) => assert(math.abs(got(b).getAs[Double](c) - want(b).getDouble(i + 1)) < 1e-12, s"$b $c")
      }
    }
    val o = got("Obese")
    assert(math.abs(o.getAs[Double]("insulin_glucose_corr") -
      silver.where("bmi_category = 'Obese'").stat.corr("Insulin", "Glucose")) < 1e-12)
  }
}
