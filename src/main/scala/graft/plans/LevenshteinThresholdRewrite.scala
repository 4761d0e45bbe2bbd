package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Catalyst optimizer rule (always-on — strictly semantics-preserving):
  * rewrite a bounded edit-distance PREDICATE over the full levenshtein
  * into the THRESHOLDED levenshtein.
  *
  *   levenshtein(a, b) <= t   →   levenshtein(a, b, t)     >= 0
  *   levenshtein(a, b) <  t   →   levenshtein(a, b, t − 1) >= 0
  *   (and the mirrored literal-first comparisons)
  *
  * Why: the un-thresholded expression fills the full O(|a|·|b|) DP
  * matrix per row just to have its value compared against a small
  * constant; the thresholded form (Spark 3.5+) runs the banded
  * O(t·min(|a|,|b|)) algorithm with an early exit on the length
  * difference, returning the exact distance when ≤ t and −1 otherwise.
  * In a fuzzy-join verify — the inner loop over every candidate pair
  * of an ER/linkage stage — that is the difference between ~|a|·|b|
  * and ~(2t+1)·|a| cell updates per pair, and almost all pairs exit on
  * the length check alone. Library code spells the thresholded form
  * directly (AdaptiveBlocker/er1/fz1); this rule gives ad-hoc SQL and
  * naive DataFrame spellings the same plan, the way a warehouse engine
  * would.
  *
  * Exactly equivalent, including nulls: NULL inputs make both
  * spellings NULL (the comparison propagates), and distance values are
  * non-negative so `thresholded >= 0` is precisely "distance ≤ t".
  * Fires only when the threshold is a non-negative foldable integer
  * literal (`< t` needs t ≥ 1 so t − 1 stays a valid threshold; a
  * negative bound is a constant-folding matter, not ours) and the
  * levenshtein does not already carry a threshold. Registered like
  * the other rules ([[GraftRules.install]]); the rewrite is idempotent (the
  * produced expression carries a threshold, so the matcher skips it).
  */
object LevenshteinThresholdRewrite extends Rule[LogicalPlan] {

  private object IntLit {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) => Some(v)
      case Literal(v: Long, LongType) if v >= Int.MinValue && v <= Int.MaxValue =>
        Some(v.toInt)
      case _ => None
    }
  }

  /** A threshold-free levenshtein, possibly under the LongType cast the
    * analyzer inserts when the literal side was a long.
    */
  private object Lev {
    def unapply(e: Expression): Option[Levenshtein] = e match {
      case l: Levenshtein if l.threshold.isEmpty => Some(l)
      case c: Cast if c.dataType == LongType =>
        c.child match {
          case l: Levenshtein if l.threshold.isEmpty => Some(l)
          case _ => None
        }
      case _ => None
    }
  }

  private def within(l: Levenshtein, t: Int): Expression =
    GreaterThanOrEqual(
      Levenshtein(l.left, l.right, Some(Literal(t, IntegerType))),
      Literal(0, IntegerType))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case LessThanOrEqual(Lev(l), IntLit(t)) if t >= 0 => within(l, t)
    case LessThan(Lev(l), IntLit(t)) if t >= 1 => within(l, t - 1)
    case GreaterThanOrEqual(IntLit(t), Lev(l)) if t >= 0 => within(l, t)
    case GreaterThan(IntLit(t), Lev(l)) if t >= 1 => within(l, t - 1)
  }
}
