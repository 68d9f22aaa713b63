package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project, Repartition, RepartitionByExpression, SubqueryAlias, View}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.AGGREGATE

import graft.sources.TxLog

/** Engine analysis rule (injected by GraftExtensions): a bare
  * `count(*)` of a [[TxLog.read]] frame is a fact of the log. The read
  * tags its analyzed plan with the snapshot's live row count
  * (DV-adjusted); an ungrouped Aggregate whose outputs are all
  * `count(<non-null literal>)` over that plan becomes a one-row
  * [[LocalRelation]] of the count, so it runs no job and opens no file
  * — the DataFrame twin of the catalog path's aggregate pushdown.
  *
  * It looks through nodes that keep every row (Project, Repartition,
  * RepartitionByExpression, SubqueryAlias, View) and stops at anything
  * else: Filter, Limit, Sample, CollectMetrics, Union, Join, Distinct.
  * A rewritten count never reaches the cache manager, so counting a
  * cached read does not materialize its cache.
  *
  * It runs after resolution, not in the optimizer. Here the tagged node
  * is still the read's own analyzed plan: analysis leaves analyzed
  * subtrees as they are. Optimizer rules do not: a rule that rebuilds a
  * node through `withNewChildren` copies the node's tags onto the
  * result even when its children changed (a Filter pushed below a DV
  * read's Union), so a tag seen there no longer proves the row count. */
object LogCountRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(AGGREGATE)) {
      case a @ Aggregate(groups, aggs, child, _)
          if groups.isEmpty && DvMaskRewrite.isBareCountStar(aggs) =>
        logRows(child).fold[LogicalPlan](a)(n =>
          LocalRelation(a.output, Seq(InternalRow.fromSeq(aggs.map(_ => n)))))
    }

  private def logRows(p: LogicalPlan): Option[Long] =
    TxLog.readRows(p).orElse(p match {
      case Project(_, child) => logRows(child)
      case Repartition(_, _, child) => logRows(child)
      case r: RepartitionByExpression => logRows(r.child)
      case SubqueryAlias(_, child) => logRows(child)
      case v: View => logRows(v.child)
      case _ => None
    })
}
