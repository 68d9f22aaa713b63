package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, AttributeSet, EqualTo, Expression, InSubquery, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, LogicalPlan, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}

import graft.sources.{TxLog, TxTable}

/** SQL `UPDATE` and `MERGE INTO` for TxLog-backed catalog tables.
  *
  * Unlike DELETE (which rides the DSv2 `SupportsDelete` interface),
  * UPDATE/MERGE have no V1 fallback: Spark either rewrites them through
  * `SupportsRowLevelOperations` or fails at planning with "not
  * supported". This strategy intercepts the ANALYZED command plans for
  * relations carrying the [[TxTable]] marker and routes them through
  * the SAME driver-side commit protocol the Scala API runs — one
  * implementation of copy-on-write/merge-on-read DML, two surfaces.
  *
  * `UPDATE <t> SET c = e, … WHERE p` → [[TxLog.update]] — every
  * analyzed SET/WHERE expression is re-rendered as SQL text with
  * qualifiers stripped (TxLog.update resolves names against the table
  * scan itself), so anything the Scala API accepts works here:
  * arithmetic, CASE, reads of other columns' pre-update values.
  *
  * `MERGE INTO <t> USING <src> ON t.k = s.k` maps structurally onto
  * the engine's merge machinery:
  *  - `WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`
  *    (the upsert) → [[TxLog.merge]] with the resolved source plan
  *    handed through as a DataFrame — single evaluation, duplicate/NULL
  *    key validation, constraint checks all shared;
  *  - `WHEN MATCHED THEN DELETE` (no other actions) → [[TxLog
  *    .deleteKeys]] — the SQL spelling of bulk erasure;
  *  - everything else in the standard clause surface — `WHEN MATCHED
  *    [AND c] THEN UPDATE SET …/DELETE`, `WHEN NOT MATCHED [AND c]
  *    THEN INSERT`, `WHEN NOT MATCHED BY SOURCE [AND c] THEN
  *    UPDATE/DELETE`, partial SET lists, multiple clauses — re-renders
  *    each condition/expression with its side qualified (`s.`/`t.`)
  *    and routes through [[TxLog.mergeClauses]]
  *    (first-firing-clause-in-order semantics, Delta's rule).
  * `ON` may be a conjunction of identically-named column equalities —
  * composite keys route through the same clause machinery. */
object TxDmlStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case u: UpdateTable =>
      txTableOf(u.table).map { t =>
        requireWritable(t)
        val set = u.assignments.map { a =>
          (a.key match {
            case ar: AttributeReference => ar.name
            case other => refuse(s"UPDATE of a non-column target $other " +
              "(nested fields are not supported)")
          }) -> a.value
        }
        if (set.exists(_._2.exists(_.isInstanceOf[SubqueryExpression])))
          refuse("a subquery in an UPDATE SET value (supported: a " +
            "subquery in the WHERE as `col IN (SELECT …)`)")
        if (u.condition.exists(_.exists(_.isInstanceOf[SubqueryExpression]))) {
          // WHERE k IN (SELECT …) [AND p] — the semi-join spelling of a
          // keyed update: rewrite onto mergeClauses (one distributed
          // plan, no driver-side value collection)
          val (src, keyCols, extra) = inSubqueryParts(u.condition.get)
          val clause = TxLog.WhenMatchedUpdate(extra,
            set.map { case (k, v) =>
              k -> renderSided(v, AttributeSet.empty) }.toMap)
          TxDmlExec(s"UPDATE-IN-SUBQUERY ${t.txDir}", () =>
            TxLog.mergeClauses(SparkSession.active, t.txDir, src(),
              keyCols, Seq(clause))) :: Nil
        } else {
          val setSql = set.map { case (k, v) => k -> render(v) }.toMap
          val cond = u.condition.map(render).getOrElse("TRUE")
          TxDmlExec(s"UPDATE ${t.txDir}",
            () => TxLog.update(SparkSession.active, t.txDir, cond, setSql)) :: Nil
        }
      }.getOrElse(Nil)

    // DELETE with a subquery condition: the SupportsDelete/v1-filter
    // interface cannot express it (Spark's own v2 strategy refuses), so
    // intercept HERE and rewrite onto the same semi-join merge
    // machinery. Subquery-free DELETEs fall through untouched to the
    // SupportsDelete fast path.
    case d: DeleteFromTable
        if d.condition.exists(_.isInstanceOf[SubqueryExpression]) =>
      txTableOf(d.table).map { t =>
        requireWritable(t)
        val (src, keyCols, extra) = inSubqueryParts(d.condition)
        val clause = TxLog.WhenMatchedDelete(extra)
        TxDmlExec(s"DELETE-IN-SUBQUERY ${t.txDir}", () =>
          TxLog.mergeClauses(SparkSession.active, t.txDir, src(),
            keyCols, Seq(clause))) :: Nil
      }.getOrElse(Nil)

    case m: MergeIntoTable =>
      txTableOf(m.targetTable).map { t =>
        requireWritable(t)
        if (m.withSchemaEvolution)
          refuse("MERGE WITH SCHEMA EVOLUTION (evolve the table first " +
            "with ALTER TABLE, or use the Scala mergeEvolve upsert)")
        val keyCols = keyColsOf(m)
        val spark = SparkSession.active
        val source = org.apache.spark.sql.graft.GraftSqlShims
          .dataFrameOfPlan(spark, m.sourceTable)
        val srcOut = m.sourceTable.outputSet
        (m.matchedActions, m.notMatchedActions, m.notMatchedBySourceActions) match {
          // upsert: UPDATE SET * + INSERT * (star actions arrive from
          // analysis as full identity assignment lists), single or
          // composite key
          case (Seq(up: UpdateAction), Seq(ins: InsertAction), Seq())
              if up.condition.isEmpty && ins.condition.isEmpty &&
                isIdentity(up.assignments, srcOut, t) &&
                isIdentity(ins.assignments, srcOut, t) =>
            TxDmlExec(s"MERGE UPSERT ${t.txDir}", () =>
              TxLog.merge(spark, t.txDir, alignToTable(source, t.txDir), keyCols)) :: Nil
          // bulk erasure: WHEN MATCHED THEN DELETE, nothing else
          case (Seq(del: DeleteAction), Seq(), Seq())
              if del.condition.isEmpty && keyCols.size == 1 =>
            TxDmlExec(s"MERGE DELETE ${t.txDir}", () =>
              TxLog.deleteKeys(spark, t.txDir,
                source.select(keyCols.head), keyCols.head)) :: Nil
          // the general clause surface: WHEN MATCHED [AND c] THEN
          // UPDATE SET …/DELETE, WHEN NOT MATCHED [AND c] THEN INSERT,
          // WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE/DELETE —
          // conditions and assignment values re-render with their side
          // qualified (s./t.) and route through TxLog.mergeClauses,
          // which applies first-firing-clause-in-order semantics
          case (matchedActs, notMatchedActs, bySourceActs) =>
            val clauses: Seq[TxLog.MergeClause] = matchedActs.map {
              case u: UpdateAction =>
                TxLog.WhenMatchedUpdate(u.condition.map(renderSided(_, srcOut)),
                  u.assignments.map(a => (a.key match {
                    case ar: AttributeReference => ar.name
                    case other => refuse(s"UPDATE of a non-column target $other")
                  }) -> renderSided(a.value, srcOut)).toMap)
              case d: DeleteAction =>
                TxLog.WhenMatchedDelete(d.condition.map(renderSided(_, srcOut)))
              case other => refuse(s"matched action $other")
            } ++ notMatchedActs.map {
              case ins: InsertAction =>
                TxLog.WhenNotMatchedInsert(ins.condition.map(renderSided(_, srcOut)),
                  ins.assignments.map(a => (a.key match {
                    case ar: AttributeReference => ar.name
                    case other => refuse(s"INSERT into a non-column target $other")
                  }) -> renderSided(a.value, srcOut)).toMap)
              case other => refuse(s"not-matched action $other")
            } ++ bySourceActs.map {
              // the analyzer aligns a by-source UPDATE with identity
              // fills (t.c := t.c) for unmentioned columns — harmless
              // in a SET map (identity assignment); it has already
              // rejected source references in these clauses
              case u: UpdateAction =>
                TxLog.WhenNotMatchedBySourceUpdate(
                  u.condition.map(renderSided(_, srcOut)),
                  u.assignments.map(a => (a.key match {
                    case ar: AttributeReference => ar.name
                    case other => refuse(s"UPDATE of a non-column target $other")
                  }) -> renderSided(a.value, srcOut)).toMap)
              case d: DeleteAction =>
                TxLog.WhenNotMatchedBySourceDelete(
                  d.condition.map(renderSided(_, srcOut)))
              case other => refuse(s"not-matched-by-source action $other")
            }
            TxDmlExec(s"MERGE CLAUSES ${t.txDir}", () =>
              TxLog.mergeClauses(spark, t.txDir, source, keyCols, clauses)) :: Nil
        }
      }.getOrElse(Nil)

    case _ => Nil
  }

  /** Decompose a DML condition carrying an IN-subquery into the
    * semi-join merge rewrite's parts: `k1 [, k2 …] IN (SELECT …) AND p`
    * becomes (source thunk, key columns, residual condition).
    *
    * Supported shape: exactly ONE uncorrelated `IN (subquery)` conjunct
    * whose probe side is plain column references; every other conjunct
    * must be subquery-free (it rides as the clause condition, evaluated
    * against the matched target row). `NOT IN` is refused — its
    * three-valued NULL semantics do not reduce to an anti-join, and a
    * silent approximation would delete the wrong rows. The subquery's
    * output is renamed positionally to the probe columns, NULL keys
    * dropped (SQL IN can only yield TRUE on a non-NULL match — dropping
    * them is exact, not an approximation), and deduplicated: the merge
    * machinery's distinct-source-keys contract.
    *
    * The source is a THUNK: the subquery plan is turned into a
    * DataFrame at EXECUTION time, so its scan pins the table state the
    * DML's own commit loop governs, not planning-time state. */
  private def inSubqueryParts(cond: Expression)
      : (() => org.apache.spark.sql.DataFrame, Seq[String], Option[String]) = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val (withSub, plain) =
      conjuncts(cond).partition(_.exists(_.isInstanceOf[SubqueryExpression]))
    val in = withSub match {
      case Seq(i: InSubquery) => i
      case Seq(other) => refuse(s"subquery condition ${other.sql}; supported: " +
        "a single `col [, col …] IN (SELECT …)` conjunct (NOT IN / EXISTS " +
        "are not)")
      case _ => refuse("multiple subquery conjuncts in one DML condition")
    }
    if (in.query.outerAttrs.nonEmpty)
      refuse(s"correlated subquery ${in.query.plan.treeString.take(200)}")
    val keyCols = in.values.map {
      case ar: AttributeReference => ar.name
      case other => refuse(s"IN probe ${other.sql}: must be plain columns")
    }
    if (keyCols.distinct != keyCols) refuse("duplicate columns in the IN probe")
    val subPlan = in.query.plan
    val extra =
      if (plain.isEmpty) None
      else Some(plain.map(p => renderSided(p, AttributeSet.empty))
        .mkString("(", ") AND (", ")"))
    val src = () => {
      val spark = SparkSession.active
      val df = org.apache.spark.sql.graft.GraftSqlShims
        .dataFrameOfPlan(spark, subPlan)
        .toDF(keyCols: _*)
      keyCols.foldLeft(df)((d, c) =>
        d.where(org.apache.spark.sql.functions.col(c).isNotNull)).distinct()
    }
    (src, keyCols, extra)
  }

  /** Unwrap aliases down to a [[TxTable]]-marked v2 relation — the
    * optimizer rewrites the target to a ScanRelation before planning,
    * so both forms appear. */
  private def txTableOf(plan: LogicalPlan): Option[TxTable] = plan match {
    case SubqueryAlias(_, child) => txTableOf(child)
    case r: DataSourceV2Relation => r.table match {
      case t: TxTable => Some(t)
      case _ => None
    }
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
      r.relation.table match {
        case t: TxTable => Some(t)
        case _ => None
      }
    case _ => None
  }

  private def requireWritable(t: TxTable): Unit =
    if (!t.txWritable)
      refuse(s"DML on ${t.txDir}: a time-travel relation is read-only")

  private def refuse(what: String): Nothing =
    throw new UnsupportedOperationException(s"txlog SQL DML: $what")

  /** Analyzed expression → SQL text TxLog's DML re-parses: qualifiers
    * are stripped (names re-resolve against the table scan), exprIds
    * dropped with them. */
  private def render(e: Expression): String =
    e.transform {
      case ar: AttributeReference => UnresolvedAttribute(Seq(ar.name))
    }.sql

  /** Like [[render]], but each attribute keeps its SIDE as a one-letter
    * qualifier: source attributes become `s.<name>`, target attributes
    * `t.<name>` — the namespace [[TxLog.mergeClauses]] evaluates clause
    * conditions and expressions in. */
  private def renderSided(e: Expression,
      sourceOut: org.apache.spark.sql.catalyst.expressions.AttributeSet): String =
    e.transform {
      case ar: AttributeReference =>
        UnresolvedAttribute(Seq(if (sourceOut.contains(ar)) "s" else "t", ar.name))
    }.sql

  /** `ON t.k1 = s.k1 [AND t.k2 = s.k2 …]` with the same column name on
    * both sides of each equality — the (possibly composite) key shape
    * [[TxLog.mergeClauses]] implements. */
  private def keyColsOf(m: MergeIntoTable): Seq[String] = {
    def eqs(e: Expression): Seq[String] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) => eqs(l) ++ eqs(r)
      case EqualTo(l: Attribute, r: Attribute) if l.name == r.name => Seq(l.name)
      case other => refuse(s"merge condition ${other.sql}; supported: a " +
        "conjunction of equalities on identically-named key columns (t.k = s.k)")
    }
    val ks = eqs(m.mergeCondition)
    if (ks.distinct != ks)
      refuse(s"merge condition repeats key column(s) ${ks.diff(ks.distinct).mkString(", ")}")
    ks
  }

  /** Every assignment is `target.c := source.c` (what SET * / INSERT *
    * resolve to) — the value must be the SOURCE's attribute, not the
    * target's: the analyzer aligns a PARTIAL update by filling
    * unmentioned columns with `target.c := target.c`, which name
    * equality alone cannot distinguish from a star (treating it as one
    * would overwrite the unmentioned columns with source values). A
    * Cast in the value means a source column's type differs from the
    * table's, which TxLog.merge's exact schema check refuses — so such
    * a MERGE is not an upsert and takes the clause route, which casts. */
  private def isIdentity(assignments: Seq[Assignment],
      sourceOut: org.apache.spark.sql.catalyst.expressions.AttributeSet,
      t: TxTable): Boolean = {
    val covered = assignments.collect {
      case Assignment(k: AttributeReference, v: AttributeReference)
          if k.name == v.name && sourceOut.contains(v) => k.name
    }
    covered.size == assignments.size &&
      covered.toSet == TxLog.snapshot(t.txDir).schema.fieldNames.toSet
  }

  /** The analyzed source plan's column ORDER may differ from the table's
    * (MERGE resolves by name), while TxLog.merge requires exactly the
    * table's columns in the table's order — reorder by name, which also
    * drops the source columns the table lacks (isIdentity proved every
    * table column has its like-named source column). */
  private def alignToTable(source: org.apache.spark.sql.DataFrame,
      dir: String): org.apache.spark.sql.DataFrame = {
    val cols = TxLog.snapshot(dir).schema.fieldNames
    source.select(cols.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
  }
}

/** Eagerly-executed command node: the engine's eager-command execution
  * calls `executeCollect` exactly once per statement; the lazy guard
  * keeps a second code path (doExecute) from re-running the commit. */
case class TxDmlExec(description: String, body: () => Long) extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  private lazy val done: Unit = { body(); () }
  override def executeCollect(): Array[InternalRow] = { done; Array.empty }
  protected override def doExecute(): RDD[InternalRow] = {
    done; sparkContext.emptyRDD
  }
  override def simpleString(maxFields: Int): String = s"TxDmlExec $description"
}
