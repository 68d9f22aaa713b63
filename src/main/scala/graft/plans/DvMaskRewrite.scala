package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Command, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.sources.TxTable

/** Engine optimizer rule (injected by GraftExtensions): VECTORIZED
  * merge-on-read. A SQL read of a DV-bearing TxLog table used to take
  * a V1-relation fallback — inner anti-join plan bridged through an
  * `RDD[Row]`, so the OUTER query lost whole-stage codegen at the scan,
  * column pruning across the bridge, and vectorized batches. This rule
  * replaces the v2 relation with the table's masked read plan
  * ([[TxTable.txMaskedScan]]): native parquet relations over the log's
  * own [[graft.sources.GraftFileIndex]] (pv/stats/bloom skipping kept,
  * inside `listFiles`) with dead `(file, row_index)` positions dropped
  * by a codegen'd literal-map filter — Delta's DV-reader shape, built
  * from public planning surfaces.
  *
  * Soundness is never delegated to this rule: a session without the
  * extension (or a table the mask declines — dead set over budget,
  * distributed-planned base) reads through the V1 anti-join fallback,
  * which is always correct. The rewrite STOPS at [[Command]] nodes —
  * DML routes through TxDmlStrategy and write targets must stay v2
  * relations; their reads keep the fallback (slower, equally sound). */
object DvMaskRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = rewrite(plan)

  private def rewrite(p: LogicalPlan): LogicalPlan = p match {
    case c: Command => c
    // a bare `count(*)` over the relation stays v2: the scan builder
    // answers it from the LOG (AddFile.rows is DV-adjusted — a
    // LocalScan with zero file opens), which the masked plan cannot
    case a @ Aggregate(groups, aggs, child, _)
        if groups.isEmpty && isBareCountStar(aggs) && isTxRelation(child) => a
    case r: DataSourceV2Relation =>
      r.table match {
        case t: TxTable =>
          t.txMaskedScan() match {
            case Some(masked) if masked.resolved &&
                masked.output.length == r.output.length =>
              // graft the masked plan under the relation's own exprIds
              // so every consumer above resolves unchanged
              val aliases: Seq[NamedExpression] =
                r.output.zip(masked.output).map { case (o, n) =>
                  Alias(n, o.name)(exprId = o.exprId,
                    explicitMetadata = Some(o.metadata))
                }
              Project(aliases, masked)
            case _ => r
          }
        case _ => r
      }
    case other => other.mapChildren(rewrite)
  }

  /** Every output is `count(<non-null literal>)` (`count(*)` analyzes
    * to `count(1)`): each counts all rows. Shared with
    * [[LogCountRewrite]]. */
  private[plans] def isBareCountStar(aggs: Seq[NamedExpression]): Boolean =
    aggs.nonEmpty && aggs.forall {
      case Alias(AggregateExpression(Count(Seq(l: Literal)), _, false, None, _), _) =>
        l.value != null
      case _ => false
    }

  private def isTxRelation(p: LogicalPlan): Boolean = p match {
    case r: DataSourceV2Relation => r.table.isInstanceOf[TxTable]
    case Project(_, r: DataSourceV2Relation) => r.table.isInstanceOf[TxTable]
    case _ => false
  }
}
