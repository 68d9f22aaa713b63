package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Dashboard, DiabetesPipeline, PipelineGraph, PipelineResult, RunContext, TableDef}
import graft.sources.TxPublish

/** Small materialized tables are planned on one partition
  * ([[graft.sources.SmallTable]]): the gold nodes and the dashboards over
  * them run with no Exchange while every table is under
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize`, the shuffles
  * come back when the setting is lowered below the tables' size, and both
  * ways produce the same tables. */
class SmallTableSpec extends AnyFunSuite with SparkTestBase {

  private object Aqe extends AdaptiveSparkPlanHelper

  /** Run `body` with the threshold at `v`, restoring the session's value
    * afterwards (the suites share one session). */
  private def withMinPartitionSize[A](v: String)(body: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, v)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Below every table's size: nothing qualifies as small. */
  private def parallel[A](body: => A): A = withMinPartitionSize("1b")(body)

  /** The benchmark's arrival DAG: every table node but the feature
    * correlation, over a 4-file bronze read as the streaming ingest hands
    * it on. */
  private def arrivalDefs(rows: Int) = {
    val bronze = PimaFixture.bronze(spark, rows, files = 4)
    DiabetesPipeline.tableDefs(spark, RunContext.golden,
        _ => graft.sources.SmallTable.onePartition(bronze))
      .filterNot(_.name == "diabetes_feature_correlation")
  }

  private def runDag(defs: Seq[TableDef], work: String): PipelineResult =
    PipelineGraph.run(spark, defs, work, transactionalSinks = true, publishRun = true)

  private val upstream = Set("diabetes_bronze", "diabetes_bronze_materialized", "diabetes_silver")

  /** Every gold node rebuilt over the DAG's reader, and the 6 dashboard
    * queries over the published run. */
  private def goldAndDashboards(defs: Seq[TableDef], res: PipelineResult,
      work: String): Seq[(String, DataFrame)] = {
    val gold = defs.filter(t => !t.isView && !upstream(t.name)).map(t => t.name -> t.build(res.apply))
    TxPublish.readRun(spark, work).foreach { case (n, df) => df.createOrReplaceTempView(n) }
    gold ++ Dashboard.all.toSeq.sortBy(_._1).map { case (n, sql) => s"dashboard $n" -> spark.sql(sql) }
  }

  /** Exchanges in `df`'s final adaptive plan, subqueries included, after
    * running it. */
  private def exchanges(df: DataFrame): Seq[String] = {
    df.collect()
    Aqe.collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: Exchange => e.nodeName
      case r: ReusedExchangeExec => r.nodeName
    }
  }

  test("small tables: gold nodes and dashboards plan no Exchange; a lowered threshold brings it back") {
    val defs = arrivalDefs(2000)
    val work = Scratch.dir("graft-small-plan").toString
    val small = goldAndDashboards(defs, runDag(defs, work), work)
    assert(small.size === 13)
    small.foreach { case (n, df) => assert(exchanges(df).isEmpty, s"$n plans an Exchange") }
    parallel {
      val par = goldAndDashboards(defs, runDag(defs, work), work)
      // kpi_cards is a UNION ALL of projections of a one-row table: no
      // plan of it ever shuffles
      par.filterNot(_._1 == "dashboard kpi_cards").foreach { case (n, df) =>
        assert(exchanges(df).nonEmpty, s"$n plans no Exchange above a multi-partition table")
      }
    }
  }

  test("small and forced-parallel paths produce the same tables at 2k and 18k rows") {
    for (rows <- Seq(2000, 18000)) {
      val defs = arrivalDefs(rows)
      val small = runDag(defs, Scratch.dir("graft-small-eq").toString)
      val par = parallel(runDag(defs, Scratch.dir("graft-par-eq").toString))
      assert(small("diabetes_silver").rdd.getNumPartitions === 1, s"$rows rows: silver is not small")
      assert(par("diabetes_silver").rdd.getNumPartitions > 1, s"$rows rows: silver is not parallel")
      assert(small.expectations === par.expectations, s"$rows rows")
      defs.filterNot(_.isView).map(_.name).foreach { n =>
        val (a, b) = (small(n), par(n))
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$rows rows: $n differs")
      }
    }
  }
}
