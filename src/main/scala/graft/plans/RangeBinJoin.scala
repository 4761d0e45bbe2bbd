package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, TimestampType}

/** Catalyst optimizer rule: plan a pure-inequality point-in-interval join
  * as the binned equi-join `operators/RangeJoin` hand-writes.
  *
  * The shape
  *
  * {{{ points.join(intervals, $"ts" >= $"start" && $"ts" < $"end") }}}
  *
  * has no equi predicate, so Spark's only physical strategies are
  * BroadcastNestedLoopJoin (every point × every interval, then filter)
  * or CartesianProduct — quadratic work and a scale-killer the moment
  * either side stops being tiny. The well-known fix (see
  * `RangeJoin.pointInInterval`) is time binning: replicate each interval
  * to every fixed-width bin it covers, tag each point with its single
  * bin, and join on bin equality plus the exact containment predicate.
  * This rule applies that rewrite AUTOMATICALLY, so the naive spelling —
  * the one users actually write — gets the scalable plan.
  *
  * Fires on an INNER join whose condition, split into conjuncts,
  * contains a lower bound (`p >= s` / `p > s`, either operand order) and
  * an upper bound (`p < e` / `p <= e`) on the SAME point expression
  * `p`, where `p` evaluates on one side and both bounds on the other,
  * everything deterministic, and all three are timestamps or all
  * integrals. Extra conjuncts are preserved untouched. `binUs` is the
  * positive bin width in microseconds — pick ≈ the typical interval
  * span; there is no universally right width, which is why a session
  * carries the rule only once it installs one ([[GraftRules.install]]).
  * The rule does NOT fire when any conjunct is already an equi predicate
  * across the two sides: Spark then already plans a shuffled equi join
  * (the keyed case is `RangeJoin.pointInInterval`'s job), and the guard
  * also makes the rewrite self-stabilizing — its own output contains a
  * bin-equality conjunct, so it can never re-fire on what it produced.
  *
  * Semantics are preserved exactly:
  *
  *   - bin assignment uses integral division of epoch-micros (exact —
  *     no double rounding); truncating division by a positive width is
  *     monotonic non-decreasing, so `s <= p <= last` implies `bin(s) <=
  *     bin(p) <= bin(last)` and the interval's replica sequence always
  *     covers the point's bin (negative epochs merely share the wider
  *     bin at zero — a perf nit, not a correctness issue);
  *   - a point belongs to exactly ONE bin, so each qualifying (point,
  *     interval) pair survives in exactly one replica — no post-join
  *     dedup, identical multiset to the nested-loop plan;
  *   - the replica sequence ends at `bin(end - 1µs)` for a strict upper
  *     bound (`bin(end)` for inclusive), and intervals that admit no
  *     point (`end <= start`, resp. `<` for inclusive) are dropped
  *     before `sequence()` would see a descending range;
  *   - null point/bounds: the inner join drops the row under both
  *     spellings (null bin never equi-matches; a null sequence bound
  *     explodes to no rows).
  *
  * The rewritten join carries an equi conjunct, so Spark plans a
  * shuffled (or, small side, AQE-broadcast) hash/merge join keyed on
  * the bin — at 100 TB the pair stream shrinks from |P|·|I| to the
  * per-bin co-partitioned overlap, and both sides partition by time.
  * Oversized intervals (span ≫ bin width) replicate proportionally;
  * `sequence()` enforces its array-length ceiling rather than silently
  * degrading, which is the honest failure mode for a misconfigured bin.
  *
  * Gate entry `opt2_range_bin_auto` spells the naive keyless join and
  * hash-matches DuckDB executing the same naive SQL; RangeBinRewriteSpec
  * pins plan shape (no nested-loop/cartesian), rule-off equivalence,
  * bound inclusivity, orientation, nulls, and the equi/outer guards.
  */
case class RangeBinJoinRewrite(binUs: Long) extends Rule[LogicalPlan] with PredicateHelper {
  require(binUs > 0, s"range-join bin width must be a positive number of microseconds, got $binUs")

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case j @ Join(_, _, Inner, Some(cond), _) => rewrite(j, cond).getOrElse(j)
    }

  /** `(point, bound, strict)` readings of one comparison conjunct. */
  private def asLower(c: Expression): Seq[(Expression, Expression, Boolean)] = c match {
    case GreaterThan(p, s) => Seq((p, s, true))
    case GreaterThanOrEqual(p, s) => Seq((p, s, false))
    case LessThan(s, p) => Seq((p, s, true))
    case LessThanOrEqual(s, p) => Seq((p, s, false))
    case _ => Nil
  }

  private def asUpper(c: Expression): Seq[(Expression, Expression, Boolean)] = c match {
    case LessThan(p, e) => Seq((p, e, true))
    case LessThanOrEqual(p, e) => Seq((p, e, false))
    case GreaterThan(e, p) => Seq((p, e, true))
    case GreaterThanOrEqual(e, p) => Seq((p, e, false))
    case _ => Nil
  }

  private def sideOf(e: Expression, j: Join): Option[Boolean] =
    if (e.references.isEmpty) None
    else if (e.references.subsetOf(j.left.outputSet)) Some(true)
    else if (e.references.subsetOf(j.right.outputSet)) Some(false)
    else None

  private def spansBothSides(c: Expression, j: Join): Boolean = c match {
    case EqualTo(a, b) => sideOf(a, j).exists(l => sideOf(b, j).contains(!l))
    case EqualNullSafe(a, b) => sideOf(a, j).exists(l => sideOf(b, j).contains(!l))
    case _ => false
  }

  private def micros(e: Expression): Option[Expression] = e.dataType match {
    case TimestampType => Some(UnixMicros(e))
    case ByteType | ShortType | IntegerType | LongType => Some(Cast(e, LongType))
    case _ => None
  }

  private def rewrite(j: Join, cond: Expression): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    if (conjuncts.exists(spansBothSides(_, j))) return None

    val candidates = for {
      lo <- conjuncts; hi <- conjuncts; if lo ne hi
      (p1, s, _) <- asLower(lo); (p2, e, upperStrict) <- asUpper(hi)
      if p1.semanticEquals(p2) && p1.deterministic && s.deterministic && e.deterministic
      pointOnLeft <- sideOf(p1, j)
      // both bounds evaluate on the interval side (a literal bound —
      // empty references — rides along with the referencing one)
      iSide = if (pointOnLeft) j.right else j.left
      if (s.references ++ e.references).nonEmpty &&
        s.references.subsetOf(iSide.outputSet) && e.references.subsetOf(iSide.outputSet)
      pUs <- micros(p1); sUs <- micros(s); eUs <- micros(e)
    } yield (pointOnLeft, pUs, sUs, eUs, upperStrict)

    candidates.headOption.map { case (pointOnLeft, pUs, sUs, eUs, upperStrict) =>
      def binOf(x: Expression) = new IntegralDivide(x, Literal(binUs))
      val (pPlan, iPlan) = if (pointOnLeft) (j.left, j.right) else (j.right, j.left)

      val pBin = Alias(binOf(pUs), "__graft_bin")()
      val pProj = Project(pPlan.output :+ pBin, pPlan)

      val admitsAny =
        if (upperStrict) GreaterThan(eUs, sUs) else GreaterThanOrEqual(eUs, sUs)
      val lastBin =
        if (upperStrict) binOf(Subtract(eUs, Literal(1L))) else binOf(eUs)
      // a TimeZoneAwareExpression is only `resolved` with a zone pinned,
      // even over Longs — give it the session zone explicitly
      val seq = Sequence(binOf(sUs), lastBin, None, Some(conf.sessionLocalTimeZone))
      val iBin = AttributeReference("__graft_ibin", LongType,
        nullable = seq.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull)()
      val gen = Generate(Explode(seq), unrequiredChildIndex = Nil, outer = false,
        qualifier = None, generatorOutput = Seq(iBin), Filter(admitsAny, iPlan))

      val (newLeft, newRight) = if (pointOnLeft) (pProj, gen) else (gen, pProj)
      val newJoin = Join(newLeft, newRight, Inner,
        Some(And(cond, EqualTo(pBin.toAttribute, iBin))), j.hint)
      Project(j.output, newJoin)
    }
  }
}
