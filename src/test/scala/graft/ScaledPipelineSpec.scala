package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{DiabetesPipeline, PipelineGraph, RunContext}

/** The medallion DAG on a 100×-replicated corpus (76,800 rows): golden
  * ratios are replication-invariant (medians of duplicated data are
  * unchanged, rates are scale-free), so this pins that nothing in the
  * pipeline is accidentally tied to the 768-row corpus — the kind of
  * scale-up smoke a 100 TB deployment starts with. Its literals are of
  * the reference's 768-row file, so where that is absent the test is
  * canceled (not run). */
class ScaledPipelineSpec extends AnyFunSuite with SparkTestBase {

  test("100x corpus: counts scale linearly, ratios and medians unchanged") {
    val src = Paths.get(DiabetesPipeline.defaultDataDir)
    assume(Files.isDirectory(src), s"reference corpus $src is absent")
    val raw = graft.Scratch.dir("graft-scaled-raw")
    (1 to 6).foreach { n =>
      val body = Files.readString(src.resolve(s"diabetes_part_$n.csv"))
      val (header, rows) = body.splitAt(body.indexOf('\n') + 1)
      Files.writeString(raw.resolve(s"diabetes_part_$n.csv"),
        header + (rows * 100))
    }
    val work = graft.Scratch.dir("graft-scaled-work").toString
    val rc = RunContext.golden
    val defs = DiabetesPipeline.tableDefs(spark, rc,
      _ => DiabetesPipeline.bronzeBatch(spark, raw.toString, rc))
    val result = PipelineGraph.run(spark, defs, work)

    val exec = result("diabetes_executive_summary").head()
    assert(exec.getAs[Double]("total_patients") === 76800.0)
    assert(exec.getAs[Double]("diabetes_cases") === 26800.0)
    assert(exec.getAs[Double]("diabetes_percentage") === 34.9) // scale-free
    assert(exec.getAs[Double]("data_quality_score") === 100.0)

    // medians of replicated data are the originals → identical imputation
    val silver = result("diabetes_silver")
    assert(silver.filter(col("SkinThickness") === 29).count() >= 22700)
    assert(silver.filter(col("Glucose") === 0).count() === 0)
  }
}
