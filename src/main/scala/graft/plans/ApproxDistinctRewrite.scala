package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

import graft.functions.{KmvNdv, NdvSketch}

/** Catalyst optimizer rule (OPT-IN): rewrite `COUNT(DISTINCT x [, y…])`
  * inside batch aggregates into the KMV bottom-k sketch aggregate
  * [[graft.functions.KmvNdv]] over a masked `xxhash64`.
  *
  * Why: exact per-group distinct planning ships one exchange row per
  * (group, value) — the partial pass cannot combine. The sketch is a
  * plain aggregate: map-side partials combine into ≤ 2k longs per
  * (group × partition), and the answer is EXACT below k distinct
  * values per group (theta never trims — the kept set IS the
  * distinct hash set), degrading to a ±1/sqrt(k-2) estimate above
  * (1.1% at the default k = 8192). That exact-below-k property is what
  * makes the rewrite gate-checkable: on data whose per-group NDV sits
  * under k the rewritten query is hash-IDENTICAL to the exact spelling
  * (modulo 64-bit hash collisions: birthday odds ~3% of losing ONE
  * count at 10^9 distinct — the documented contract).
  *
  * In a session the rule reaches the single-distinct shape only.
  * Spark's `RewriteDistinctAggregates` runs before `extraOptimizations`
  * and has already turned SEVERAL distinct aggregates into an Expand
  * (every input row once per distinct group) under two plain aggregates,
  * leaving no distinct `Count` to match, so such a query keeps Spark's
  * Expand (ApproxDistinctRewriteSpec pins this). Applied by hand to an
  * analyzed plan, the same `Count` case rewrites every distinct count
  * of that shape too.
  *
  * OPT-IN because past k this trades exactness for boundedness — a
  * session carries it only once it installs one with its sketch size
  * ([[GraftRules.install]]; the opt4 gate entry installs it on its own
  * session). This is the "approximate mode" switch every warehouse
  * engine grows; here it is an optimizer rule, so users keep writing
  * `COUNT(DISTINCT …)`.
  *
  * Fires only on shapes whose semantics the sketch reproduces:
  *   - a batch (non-streaming) `Aggregate` — streaming distinct
  *     aggregation has its own emission contract (sw6 carries the
  *     sketch INSIDE state for that case, with the watermark story);
  *   - `Count` with `isDistinct = true`, ≥ 1 deterministic children
  *     that `XxHash64` accepts (any atomic or nested hashable type);
  *   - any aggregate FILTER clause is preserved (it masks rows before
  *     aggregation in both spellings).
  *
  * Null semantics match `Count(distinct)` exactly: a tuple with ANY
  * null component is skipped, spelled as `If(anyNull, NULL, xxhash64)`
  * so the hash stays in whole-stage codegen and only the 8-byte hash
  * reaches the buffer. The `AggregateExpression` is rebuilt via `copy`,
  * keeping its `resultId` — parent plans and downstream references are
  * untouched; the function's type/nullability (LongType, non-null,
  * empty group → 0) match `Count`'s.
  *
  * Batch-order honesty: like the other rules it is registered through
  * `experimental.extraOptimizations`, where user rules run LAST, after
  * Spark's `RewriteDistinctAggregates` has already expanded
  * multi-distinct shapes. A session therefore never
  * rewrites a multi-distinct aggregate (it keeps Spark's Expand plan);
  * the rule catches the single-distinct shape (the common one; physical
  * planning otherwise turns it into the two-exchange partial-distinct
  * plan). ApproxDistinctRewriteSpec's "a configured session rewrites
  * only the single-distinct shape" pins both on optimized plans; its
  * multi-distinct test applies the rule to an analyzed plan by hand,
  * which no session does.
  */
case class ApproxDistinctRewrite(k: Int = NdvSketch.DefaultK) extends Rule[LogicalPlan] {
  // the (k-1)/R estimate KmvNdv returns past k needs k >= 2
  require(k >= 2, s"sketch size k must be at least 2, got $k")

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case agg: Aggregate if !agg.isStreaming =>
        agg.transformExpressions {
          case ae @ AggregateExpression(Count(children), _, true, _, _)
              if children.nonEmpty && children.forall(_.deterministic) &&
                hashable(children) =>
            ae.copy(aggregateFunction = KmvNdv(maskedHash(children), k),
              isDistinct = false)
        }
    }

  /** `COUNT(DISTINCT a, b)` skips tuples with ANY null component. */
  private def maskedHash(children: Seq[Expression]): Expression = {
    val hash = new XxHash64(children)
    val anyNull = children.map(IsNull(_): Expression).reduce(Or)
    If(anyNull, Literal(null, LongType), hash)
  }

  private def hashable(children: Seq[Expression]): Boolean =
    new XxHash64(children).checkInputDataTypes().isSuccess
}
