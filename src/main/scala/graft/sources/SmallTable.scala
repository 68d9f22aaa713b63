package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.internal.SQLConf

/** Plans a small materialized table on ONE partition.
  *
  * A table whose live files total at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB by
  * default) gains nothing from a shuffle: AQE would coalesce the whole
  * shuffle into one reducer anyway, so the exchange adds only a stage,
  * its tasks and, for every action, a job. Such a table is returned as
  * `df.coalesce(1)`. A `SinglePartition` child satisfies every clustered,
  * ordered and all-tuples distribution, so aggregates, global sorts and
  * `OVER ()` windows above it plan with no Exchange, and a write above it
  * stages one file. Larger tables come back unchanged and keep their
  * partition-parallel plans.
  *
  * The size is the optimized plan's `sizeInBytes`: for a file scan that
  * is the bytes of the files the read already resolved (for a [[TxLog]]
  * table, the live files its log names), so the check lists nothing and
  * runs no job. Apply it only where a materialized table is handed to
  * downstream analytics; a plan that is not a file scan estimates its own
  * size and, when it cannot, reports a size that never qualifies. */
object SmallTable {

  def onePartition(df: DataFrame): DataFrame = {
    val limit = df.sparkSession.sessionState.conf
      .getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= limit) df.coalesce(1) else df
  }
}
