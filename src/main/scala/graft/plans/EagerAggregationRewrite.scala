package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** EAGER AGGREGATION through a dimension join (opt-in) — Yan & Larson's
  * classic transform, constraint-gated the same way opt7 is: an
  * `Aggregate` directly over an INNER equi-join whose right key is
  * VERIFIED unique ([[TableConstraints]]) re-plans with a partial
  * aggregate pushed BELOW the join on the fact side, grouped by (the
  * left-side grouping columns ∪ the join key); the final aggregate
  * above the join merges partials (SUM→SUM, COUNT→SUM, MIN/MIN,
  * MAX/MAX).
  *
  * Soundness: a unique right key gives every left row AT MOST one
  * match, so the join never duplicates a partial; an inner join drops
  * unmatched left rows, and it drops the pre-aggregated group exactly
  * when it would have dropped every one of its rows (all rows of a
  * (G_left, k) group share k). Distinct aggregates and FILTER clauses
  * never decompose; aggregates touching right columns can't push —
  * both refuse.
  *
  * Why this matters at 100 TB: the shuffled/broadcast-probed row count
  * drops from |fact| to |distinct (G_left, key)| BEFORE the join — for
  * the canonical "fact join dim, group by dim attribute" report over a
  * low-cardinality key, orders of magnitude fewer rows reach the join
  * and the final exchange, and the pushed partial aggregate itself
  * combines map-side. Spark's optimizer does not do this (it pushes
  * partial aggregation only within one Aggregate's physical plan, never
  * through a join); warehouses that do (from PK metadata) win these
  * report shapes by exactly this transform.
  *
  * Idempotence (the extra-optimizer batch runs to fixpoint): a join
  * whose left child is already an Aggregate grouping on the computed
  * push-down set is skipped. A session carries it once installed
  * ([[GraftRules.install]]; opt8 installs it on its own session).
  */
object EagerAggregationRewrite extends Rule[LogicalPlan] {

  // right-side scan extraction: filters are sound here (an inner join's
  // right predicate only decides WHICH groups survive, never how they
  // aggregate); multi-path scans refuse — see [[PlanScans]].

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val appId = SparkSession.active.sparkContext.applicationId
    plan.transformUp {
      // column pruning interposes an attribute-only Project — look through
      case agg @ Aggregate(ge, ae, child, _) =>
        val join = child match {
          case jj: Join => Some(jj)
          case Project(pl, jj: Join) if pl.forall(_.isInstanceOf[AttributeReference]) => Some(jj)
          case _ => None
        }
        join.flatMap(tryPush(appId, agg, ge, ae, _)).getOrElse(agg)
    }
  }

  private def tryPush(appId: String, agg: Aggregate, ge: Seq[Expression],
      ae: Seq[NamedExpression], j: Join): Option[LogicalPlan] = {
    val (l, r, a, b, hint) = j match {
      case Join(jl, jr, Inner,
          Some(EqualTo(ja: AttributeReference, jb: AttributeReference)), jh) =>
        (jl, jr, ja, jb, jh)
      case _ => return None
    }
    val (leftKey, rightKey) =
      if (l.outputSet.contains(a) && r.outputSet.contains(b)) (a, b)
      else if (l.outputSet.contains(b) && r.outputSet.contains(a)) (b, a)
      else return None
    if (!PlanScans.filteredScanRef(r).exists(ref =>
        TableConstraints.isUnique(appId, ref, rightKey.name)))
      return None
    // v1 scope: plain-column grouping (either side)
    if (!ge.forall(_.isInstanceOf[AttributeReference])) return None
    val leftGroup: Seq[Attribute] =
      (ge.collect { case g: AttributeReference if l.outputSet.contains(g) => g } :+ leftKey)
        .distinct
    // idempotence: already pushed
    l match {
      case Aggregate(g2, _, _, _)
        if AttributeSet(g2.flatMap(_.references)) == AttributeSet(leftGroup) => return None
      case _ =>
    }
    // decompose every aggregate: left-side-only SUM/COUNT/MIN/MAX
    val partials = scala.collection.mutable.ArrayBuffer.empty[NamedExpression]
    val finalExprs: Seq[NamedExpression] = ae.map {
      case g: AttributeReference => g
      case al @ Alias(g: AttributeReference, name) =>
        Alias(g, name)(exprId = al.exprId, qualifier = al.qualifier)
      case al @ Alias(aggE @ AggregateExpression(fn, _, false, None, _), name) =>
        if (!fn.references.subsetOf(l.outputSet)) return None
        val (partialFn, mergeOf): (AggregateFunction, Attribute => AggregateFunction) = fn match {
          // float SUMs never decompose: re-aggregation reorders the
          // accumulation, and this library's differential gate promises
          // bit-stable results (the MV rule's guard, applied here too —
          // r13 review)
          case Sum(e, _) if Seq(org.apache.spark.sql.types.DoubleType,
              org.apache.spark.sql.types.FloatType).contains(e.dataType) => return None
          case Sum(e, em)  => (Sum(e, em), p => Sum(p, em))
          case c: Count    => (c, p => Sum(p))
          case Min(e)      => (Min(e), p => Min(p))
          case Max(e)      => (Max(e), p => Max(p))
          case _           => return None
        }
        val pAlias = Alias(aggE.copy(aggregateFunction = partialFn), s"_p${partials.size}")()
        partials += pAlias
        val merged = aggE.copy(aggregateFunction = mergeOf(pAlias.toAttribute))
        val body: Expression = fn match {
          // COUNT is non-null; its SUM-merge must restore that contract
          case _: Count => Coalesce(Seq(merged, Literal(0L)))
          case _        => merged
        }
        if (body.dataType != al.dataType) return None // SUM(BIGINT) widens DECIMAL etc: bail
        Alias(body, name)(exprId = al.exprId, qualifier = al.qualifier)
      case _ => return None
    }
    if (partials.isEmpty) return None // nothing to push
    val pushed = Aggregate(leftGroup, (leftGroup: Seq[NamedExpression]) ++ partials, l)
    val newJoin = Join(pushed, r, Inner, Some(EqualTo(leftKey, rightKey)), hint)
    Some(Aggregate(ge, finalExprs, newJoin))
  }
}
