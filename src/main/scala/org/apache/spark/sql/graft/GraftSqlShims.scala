package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** The engine's ONLY `private[sql]` reach, concentrated in one file: a
  * V1 streaming `Source.getBatch` must hand back a DataFrame whose
  * logical plan is tagged `isStreaming=true`, a V1 `Sink.addBatch` must
  * rebind its micro-batch rows as a batch frame, and the SQL MERGE
  * strategy must wrap an analyzed plan as a DataFrame — and the only
  * constructors (`internalCreateDataFrame`, `Dataset.ofRows`) are
  * package-private to `org.apache.spark.sql`. This shim lives in that
  * package to call them — the standard third-party connector pattern
  * (Spark's own file sources and Delta's V1 sink make exactly these
  * calls). Nothing else in the repo reaches into Spark internals;
  * keep it that way. */
object GraftSqlShims {
  def streamingDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** The sink-side mirror: a V1 streaming `Sink.addBatch` receives a
    * frame bound to the micro-batch's incremental execution — re-using
    * it as a normal batch frame would re-plan the streaming query. The
    * connector pattern (Delta's V1 sink does this exact call) is to
    * rebind the already-planned physical rows as a BATCH frame. */
  def batchDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** `schema` with every field, element and value nullable
    * (`StructType.asNullable`, private to spark) — what Spark's own file
    * sources scan under, so a column a file lacks reads as NULL. */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** Wrap an already-analyzed logical plan as a DataFrame (Dataset
    * .ofRows, package-private to sql) — the SQL MERGE strategy hands
    * the statement's resolved SOURCE plan to [[graft.sources.TxLog]]
    * .merge this way, so the Scala and SQL paths share one commit
    * protocol instead of re-deriving the source. */
  def dataFrameOfPlan(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Catalyst predicate → v1 `Filter`, by Spark's OWN translation
    * (`DataSourceStrategy.translateFilter`, protected[sql]) — the
    * [[graft.sources.GraftFileIndex]] turns the plan's data filters
    * into the log's pruning model with exactly the semantics every
    * file source uses, instead of a hand-rolled re-implementation
    * that could drift. */
  def translateV1Filter(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)
}
