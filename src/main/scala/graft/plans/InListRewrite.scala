package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Catalyst optimizer rule: rewrite a LARGE literal IN-list filter
  *
  * {{{ df.filter(col("k").isin(v1, …, vN))   // N ≥ threshold }}}
  *
  * into a LEFT SEMI join against a values relation
  *
  * {{{ df.join(broadcast(values), col("k") === col("v"), "left_semi") }}}
  *
  * Why: Spark folds big IN-lists to `InSet` (a per-row hash probe —
  * fine), but the list itself still lives INSIDE the plan tree: it is
  * serialized into every task binary, re-evaluated per codegen compile,
  * printed into every plan string, and — the real scale problem — it
  * cannot participate in join planning, so a 10^5-key allow-list
  * arriving as literals (the common "ids from yesterday's run" pattern)
  * bloats the query instead of being the broadcast build side it
  * semantically is. The semi-join spelling ships the values ONCE as a
  * broadcast relation, keeps codegen small, and lets AQE see the true
  * selectivity. Null semantics match: `x IN (…)` with non-null literals
  * admits exactly the matching non-null rows, as does the semi equi-join
  * (lists containing a null literal are left alone — their IN is
  * three-valued).
  *
  * Fires on a `Filter` whose condition contains a top-level conjunct of
  * the shape `In(attr, all-literal list)` or the optimizer-folded
  * `InSet(attr, set)` with at least `threshold` distinct values and no
  * null among them; the other conjuncts stay as a residual filter above
  * the join. Output
  * attributes are the child's — untouched — so parent plans never see
  * the rewrite.
  *
  * A session carries it only once installed ([[GraftRules.install]]):
  * the opt3 gate entry installs it on its own session with threshold
  * 256. OptimizerInRuleSpec proves plan shape (semi join, no giant
  * In/InSet), row equality with the un-rewritten form, and every guard; the opt3 gate entry hash-proves the rewrite cross-engine
  * against an oracle that executes the literal IN-list SQL.
  */
case class InListToJoinRewrite(threshold: Int) extends Rule[LogicalPlan] with PredicateHelper {
  require(threshold > 0, s"IN-list join threshold must be positive, got $threshold")

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case f @ Filter(cond, child) => rewrite(cond, child).getOrElse(f)
    }

  private def rewrite(cond: Expression, child: LogicalPlan): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    val hit = conjuncts.collectFirst {
      case in @ In(a: AttributeReference, list)
          if list.size >= threshold && list.forall {
            case Literal(v, _) => v != null
            case _             => false
          } && child.outputSet.contains(a) =>
        (in: Expression, a, list.map { case Literal(v, _) => v }.distinct)
      case in @ InSet(a: AttributeReference, hset)
          if hset.size >= threshold && !hset.contains(null) &&
            child.outputSet.contains(a) =>
        (in: Expression, a, hset.toSeq)
    }
    hit.map { case (original, attr, values) =>
      val vAttr = AttributeReference("__graft_in_v", attr.dataType, nullable = false)()
      // values are already Catalyst-internal (Literal.value / InSet.hset)
      val rel = LocalRelation(Seq(vAttr), values.map(v => InternalRow(v)))
      val join = Join(child, rel, LeftSemi, Some(EqualTo(attr, vAttr)), JoinHint.NONE)
      val rest = conjuncts.filterNot(_ eq original)
      if (rest.isEmpty) join else Filter(rest.reduce(And), join)
    }
  }
}
