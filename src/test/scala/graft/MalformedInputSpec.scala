package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{DiabetesPipeline, RunContext}

/** Resilience: corrupt CSV rows must not kill the pipeline. The explicit
  * schema + default PERMISSIVE mode turn unparseable cells into NULLs;
  * the silver expectations then COUNT them (warn mode) instead of
  * failing the run — exactly the monitoring contract of the reference's
  * data_validation tables. */
class MalformedInputSpec extends AnyFunSuite with SparkTestBase {

  test("corrupt rows become NULLs, survive silver, and surface in metrics") {
    val raw = graft.Scratch.dir("graft-malformed")
    Files.copy(Paths.get(s"${PimaFixture.csvDir}/diabetes_part_1.csv"),
      raw.resolve("diabetes_part_1.csv"), StandardCopyOption.REPLACE_EXISTING)
    Files.writeString(raw.resolve("bad.csv"),
      """Pregnancies,Glucose,BloodPressure,SkinThickness,Insulin,BMI,DiabetesPedigreeFunction,Age,Outcome
        |1,89,66,23,94,28.1,0.167,21,0
        |oops,not,a,number,at,all,x,y,z
        |2,,70,,,30.5,0.2,,1
        |""".stripMargin)

    val rc = RunContext.golden
    val bronze = DiabetesPipeline.bronzeBatch(spark, raw.toString, rc)
    assert(bronze.count() === 131) // 128 good + 3 from bad.csv (1 corrupt, 1 sparse)

    val corrupt = bronze.filter(col("Pregnancies").isNull && col("Glucose").isNull)
    assert(corrupt.count() === 1) // fully-unparseable row -> all NULLs

    // silver keeps every row (warn-only expectations) and stays total
    val silver = DiabetesPipeline.silver(bronze, rc)
    assert(silver.count() === 131)
    // NULL measures are untouched by imputation (only == 0 is imputed)...
    assert(silver.filter(col("Glucose").isNull).count() === 2)
    // ...and NULL Age falls through every < bucket to the otherwise-branch
    // (when() on NULL is false), like the reference would
    assert(silver.filter(col("Age").isNull)
      .select("age_group").head().getString(0) === "Senior (60+)")
  }
}
