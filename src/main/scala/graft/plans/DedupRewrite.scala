package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.MinBy
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Catalyst optimizer rule: rewrite the first-row-per-key window idiom
  *
  * {{{ ... .withColumn("rn", row_number().over(partitionBy(k).orderBy(o)))
  *        .filter($"rn" === 1) }}}
  *
  * into a `min_by` hash aggregate
  *
  * {{{ ... .groupBy(k).agg(min_by(struct(payload), struct(o))) }}}
  *
  * The window form is how virtually every pipeline spells dedup/latest-
  * per-key, and it plans as exchange of EVERY input row + per-partition
  * sort on (key, orderKeys) + window + filter: the map side can't
  * pre-aggregate, so the exchange carries the whole input (this repo
  * measured the window spelling at 2.2× on the mart dedup — VERDICT r05
  * #2 — and keeps hand-written aggregate spellings in `Mart.buildNarrow`
  * / `Linkage.cdc2`). The aggregate form reduces map-side first: the
  * exchange carries at most one row per (partition key × task). Physical
  * honesty (review r06): because `MinBy`'s buffers hold the payload and
  * ordering STRUCTS — immutable buffer types — the aggregate plans as
  * SortAggregate, not HashAggregate, so a per-task sort on the GROUP KEY
  * remains on both sides of the exchange (the same engine constraint
  * `Mart.buildNarrow` documents for First()). The rewrite's win is the
  * map-side reduction and the narrower sort key (group key only, not
  * key + order columns), not sort elimination — so it scales with
  * PER-KEY DUPLICATION. Measured at sf0.1 (steady-state, local[32]):
  * ~1.2–1.4× faster on a high-duplication shape (events latest-per-key,
  * ~130 rows/key: 0.52 → 0.45 s, and far less cold-start variance), and
  * parity on the low-duplication opt1 gate shape (~4 rows/key: ~1.8 vs
  * ~1.9 s) — the rewrite never carries more through the exchange than
  * the window form, so firing unconditionally is safe. This rule buys
  * the aggregate plan for the window SPELLING, so users keep writing
  * the idiom they know.
  *
  * Fires only on the exact shape whose semantics the aggregate
  * reproduces:
  *   - a `Filter` directly over a `Window` (the optimizer's
  *     `PushDownPredicates` has already normalized interposed Projects
  *     away by the time user rules run);
  *   - the filter keeps exactly `rn = 1` / `rn <= 1` / `1 = rn` /
  *     `1 >= rn` on the window's single `row_number` output with the
  *     standard (UnboundedPreceding, CurrentRow) row frame;
  *   - non-empty partition keys, all simple attributes (an EMPTY
  *     partition spec must NOT rewrite: a global `Aggregate` emits one
  *     row on empty input where the window form emits zero);
  *   - every sort key ascending nulls-first (the `row_number` default) —
  *     the rewrite compares sort keys as a struct, whose lexicographic
  *     ordering is exactly per-field ascending-nulls-first, and wrapping
  *     in a struct also keeps `min_by` from skipping rows whose raw key
  *     is null (a bare null ordering value is ignored by min_by, but a
  *     struct is never null);
  *   - deterministic sort keys drawn from the window's child.
  *
  * Ties on the full sort key pick an arbitrary row in BOTH spellings
  * (`row_number` is order-nondeterministic among equals), so results are
  * only deterministic when the key is unique per partition — the same
  * contract the window form already had.
  *
  * Output attributes are re-created under the ORIGINAL expression ids
  * (group keys pass through the aggregate; payload columns are extracted
  * from the `min_by` struct; the `rn` column itself becomes literal 1,
  * which is the only value the filter admits), so parent plans are
  * untouched. Nullability of extracted payload fields may widen from the
  * original attribute's — benign for every sink (parquet/noop/JDBC write
  * nullable schemas).
  *
  * Listed in [[GraftRules]], like every graft rule. OptimizerRuleSpec
  * proves plan shape (no Window/Sort left) and row equality with the
  * un-rewritten form.
  */
object RowNumberDedupRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, w: Window) => rewrite(cond, w).getOrElse(f)
  }

  private def rewrite(cond: Expression, w: Window): Option[LogicalPlan] =
    w.windowExpressions match {
      case Seq(alias @ Alias(WindowExpression(RowNumber(),
            WindowSpecDefinition(_, _,
              SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), _))
          if keepsOnlyFirstRow(cond, alias.toAttribute) &&
            w.partitionSpec.nonEmpty &&
            w.partitionSpec.forall(_.isInstanceOf[AttributeReference]) &&
            w.orderSpec.nonEmpty &&
            w.orderSpec.forall(so =>
              so.direction == Ascending && so.nullOrdering == NullsFirst &&
                so.child.deterministic &&
                so.child.references.subsetOf(w.child.outputSet)) =>
        // Spark's InferWindowGroupLimit (main optimizer batch, runs
        // before user rules) may have inserted a WindowGroupLimit below
        // the Window. Left in place it defeats the rewrite: the
        // aggregate would sit ON TOP of the group-limit's wide sort +
        // full-input exchange, adding degenerate agg passes instead of
        // replacing the shuffle (observed r07: opt1 planned Sort +
        // WindowGroupLimit×2 + Exchange + SortAggregate×2). The limit
        // keeps a superset of the aggregate's pick (rank ≤ limit ≥ 1
        // under the same spec), so aggregating its CHILD is equivalent.
        val child = w.child match {
          case wgl: WindowGroupLimit
              if wgl.partitionSpec == w.partitionSpec &&
                wgl.orderSpec == w.orderSpec &&
                wgl.rankLikeFunction.isInstanceOf[RowNumber] && wgl.limit >= 1 =>
            wgl.child
          case c => c
        }
        val groupAttrs = w.partitionSpec.map(_.asInstanceOf[AttributeReference])
        val groupSet = AttributeSet(groupAttrs)
        val payload = child.output.filterNot(groupSet.contains)
        val firstRow = Alias(
          MinBy(CreateStruct(payload), CreateStruct(w.orderSpec.map(_.child)))
            .toAggregateExpression(), "first_row")()
        val agg = Aggregate(groupAttrs, groupAttrs :+ firstRow, child)
        val projections: Seq[NamedExpression] = w.output.map { out =>
          if (groupSet.contains(out)) out
          else if (out.exprId == alias.exprId)
            Alias(Literal(1), out.name)(exprId = out.exprId)
          else {
            val idx = payload.indexWhere(_.exprId == out.exprId)
            Alias(GetStructField(firstRow.toAttribute, idx, Some(payload(idx).name)),
              out.name)(exprId = out.exprId)
          }
        }
        Some(Project(projections, agg))
      case _ => None
    }

  /** cond admits exactly the rows where `rn` is 1. */
  private def keepsOnlyFirstRow(cond: Expression, rn: Attribute): Boolean =
    cond match {
      case EqualTo(a: Attribute, IntegerLiteral(1)) => a.semanticEquals(rn)
      case EqualTo(IntegerLiteral(1), a: Attribute) => a.semanticEquals(rn)
      case LessThanOrEqual(a: Attribute, IntegerLiteral(1)) => a.semanticEquals(rn)
      case GreaterThanOrEqual(IntegerLiteral(1), a: Attribute) => a.semanticEquals(rn)
      case _ => false
    }
}
