package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline._

class PipelineGraphSpec extends AnyFunSuite with SparkTestBase {

  private def node(name: String, deps: String*)(
      build: PipelineResult.Reader => org.apache.spark.sql.DataFrame) =
    TableDef(name, deps, build = build)

  test("topoOrder respects dependency edges (diamond)") {
    import spark.implicits._
    val defs = Seq(
      node("gold2", "silver")(r => r("silver")),
      node("silver", "bronze")(r => r("bronze")),
      node("gold1", "silver")(r => r("silver")),
      node("bronze")(_ => Seq(1).toDF("x")))
    val order = PipelineGraph.topoOrder(defs).map(_.name)
    assert(order.indexOf("bronze") < order.indexOf("silver"))
    assert(order.indexOf("silver") < order.indexOf("gold1"))
    assert(order.indexOf("silver") < order.indexOf("gold2"))
  }

  test("topoOrder rejects cycles") {
    import spark.implicits._
    val defs = Seq(
      node("a", "b")(r => r("b")),
      node("b", "a")(r => r("a")))
    assertThrows[IllegalArgumentException](PipelineGraph.topoOrder(defs))
  }

  test("drop expectation filters rows AND records the violation count") {
    import spark.implicits._
    val work = graft.Scratch.dir("graft-graph").toString
    val defs = Seq(TableDef("t", Nil,
      expectations = Seq(Expectation.drop("positive", "x > 0")),
      build = _ => Seq(-2, -1, 1, 2, 3).toDF("x")))
    val res = PipelineGraph.run(spark, defs, work)
    assert(res("t").count() === 3)
    val m = res.expectations.head
    assert(m.mode === "drop" && m.failedCount === 2 && m.passedCount === 3)
  }

  test("warn expectation keeps rows but records the violation count") {
    import spark.implicits._
    val work = graft.Scratch.dir("graft-graph").toString
    val defs = Seq(TableDef("t", Nil,
      expectations = Seq(Expectation.warn("positive", "x > 0")),
      build = _ => Seq(-2, -1, 1, 2, 3).toDF("x")))
    val res = PipelineGraph.run(spark, defs, work)
    assert(res("t").count() === 5) // warn-only: nothing dropped
    val m = res.expectations.head
    assert(m.mode === "warn" && m.failedCount === 2 && m.passedCount === 3)
  }

  test("an expectation named 'rows' does not collide with the row-count metric") {
    import spark.implicits._
    val work = graft.Scratch.dir("graft-graph").toString
    val defs = Seq(TableDef("t", Nil,
      expectations = Seq(Expectation.warn("rows", "x > 0")),
      build = _ => Seq(-1, 1, 2).toDF("x")))
    val res = PipelineGraph.run(spark, defs, work)
    val m = res.expectations.head
    assert(m.failedCount === 1 && m.passedCount === 2)
  }

  test("duplicate expectation names on one table are rejected") {
    import spark.implicits._
    val work = graft.Scratch.dir("graft-graph").toString
    val defs = Seq(TableDef("t", Nil,
      expectations = Seq(Expectation.warn("p", "x > 0"), Expectation.drop("p", "x < 10")),
      build = _ => Seq(1).toDF("x")))
    val ex = intercept[Exception](PipelineGraph.run(spark, defs, work))
    assert(ex.getMessage.contains("duplicate expectation names")
      || ex.getCause != null && ex.getCause.getMessage.contains("duplicate expectation names"))
  }

  test("a failing node names itself and its dependents never run") {
    import spark.implicits._
    val work = graft.Scratch.dir("graft-graph").toString
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val defs = Seq(
      node("bronze")(_ => { ran.add("bronze"); Seq(1).toDF("x") }),
      node("silver", "bronze")(r => { ran.add("silver"); r("bronze").selectExpr("no_such_column") }),
      node("gold", "silver")(r => { ran.add("gold"); r("silver") }))
    val ex = intercept[Exception](PipelineGraph.run(spark, defs, work))
    assert(ex.getMessage.contains("pipeline node 'silver' failed"), ex.getMessage)
    assert(ran.contains("bronze") && ran.contains("silver") && !ran.contains("gold"))
  }

  test("tables are materialized (parquet sink) and views are not") {
    import spark.implicits._
    val work = graft.Scratch.dir("graft-graph").toString
    val defs = Seq(
      node("t")(_ => Seq(1, 2).toDF("x")),
      TableDef("v", Seq("t"), isView = true, build = r => r("t").select(col("x") * 2 as "y")))
    val res = PipelineGraph.run(spark, defs, work)
    assert(new java.io.File(s"$work/t").exists())
    assert(!new java.io.File(s"$work/v").exists())
    assert(res("v").agg(sum("y")).head().getLong(0) === 6L)
  }

  test("transactional DAG: drop and warn expectation counts stay exact") {
    val n = 600
    val work = graft.Scratch.dir("graft-graph-tx").toString
    val bronze = PimaFixture.bronze(spark, n)
    val defs = DiabetesPipeline.tableDefs(spark, RunContext.golden, _ => bronze)
    val res = PipelineGraph.run(spark, defs, work, transactionalSinks = true)
    val byExp = res.expectations.map(e => (e.table, e.expectation) -> e).toMap
    val badFile = (0 until n).count(i => PimaFixture.badFile(i.toLong)).toLong
    val badAge = (0 until n).count(i => PimaFixture.badAge(i.toLong) &&
      !PimaFixture.badFile(i.toLong)).toLong
    val file = byExp(("diabetes_bronze", "valid_file"))
    assert((file.mode, file.passedCount, file.failedCount) === (("drop", n - badFile, badFile)))
    val age = byExp(("diabetes_silver", "valid_age"))
    assert((age.mode, age.passedCount, age.failedCount) === (("warn", n - badFile - badAge, badAge)))
    // drop removed the bad-file rows from the committed table; warn kept
    // the bad-age rows downstream
    assert(res("diabetes_bronze").count() === n - badFile)
    assert(res("diabetes_silver").where("Age = 0").count() === badAge)
    assert(res.expectations.size === 4)
  }
}
