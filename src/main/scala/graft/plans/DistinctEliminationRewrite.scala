package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, First, Last, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, RepartitionOperation, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types._

/** Constraint-based DISTINCT ELIMINATION (opt-in): a deduplication whose
  * keys include a VERIFIED primary key of the underlying scan is a
  * per-row no-op — every "group" is a single row — so the blocking
  * hash aggregate (a full shuffle of the dedup columns) is replaced by
  * a streaming projection.
  *
  * Soundness needs strictly more than [[JoinEliminationRewrite]]'s
  * uniqueness: `dropDuplicates` treats equal NULL keys as ONE group, so
  * a column that is merely duplicate-free among its non-null values
  * could still collapse several null-keyed rows. The registration this
  * rule trusts is therefore [[TableConstraints.registerKey]] — unique
  * AND null-free, the full PRIMARY KEY contract — audited in one
  * ANALYZE-style pass and fingerprint-pinned to the scan's file listing
  * like every other constraint in this catalog.
  *
  * Because user-provided rules run in the optimizer's LAST batch, the
  * `Deduplicate` node is long gone (ReplaceDeduplicateWithAggregate
  * rewrote it); this rule matches the post-replacement shape instead:
  * an Aggregate whose every output is either a grouping attribute or a
  * collapsible aggregate over a singleton group (see [[collapsed]]).
  * Both dedup spellings land here — `distinct()` (all columns group)
  * and `dropDuplicates(pk)` (non-keys wrapped in first()) — and so do
  * hand-written REAL aggregates keyed by the primary key (opt15):
  * `groupBy(pk).agg(sum(x), count(*), min(y))` is a per-row
  * computation once every group is proven a single row. first()'s
  * arbitrary-row nondeterminism collapses: over one row there is
  * nothing to choose.
  *
  * Why this matters at 100 TB: defensive `dropDuplicates` on an
  * already-unique ingest key is one of the most common wasted shuffles
  * in inherited pipelines — the full table hashes across the cluster to
  * remove nothing. Output exprIds are preserved (grouping attrs pass
  * through; first() aliases are re-issued under their original ids), so
  * parent operators never re-resolve. The child may filter, sort,
  * repartition or compute columns over the registered scan (all
  * row-preserving; uniqueness and null-freeness survive every subset) —
  * the KEY itself must trace to the scan column as a bare, possibly
  * renamed attribute; anything else (joins, unions, generators)
  * refuses. A session carries it once installed
  * ([[GraftRules.install]]; opt14/opt15 install it on their own session).
  */
object DistinctEliminationRewrite extends Rule[LogicalPlan] {

  /** SINGLETON-GROUP COLLAPSE of one aggregate output (opt15 widened
    * this from opt14's `first(attr)`-only shape): over a group proven
    * to hold exactly one row, each standard aggregate has a closed
    * per-row form —
    *   first/last(x, any ignoreNulls) = x   (one row: nothing to skip)
    *   min/max(x) = x
    *   sum(x)  = CAST(x AS <sum result type>)   (integral→LONG widening
    *             and fractional→DOUBLE are exact; DECIMAL refuses — its
    *             precision-promotion rounding corners aren't worth it)
    *   avg(x)  = CAST(x AS DOUBLE)              (same allowlist)
    *   count(…) = 1 when no argument can be null, else
    *              IF(any arg IS NULL, 0, 1)
    * DISTINCT variants of sum/avg/min/max/count are identity over one
    * row and collapse the same way; first/last cannot legally be
    * DISTINCT, so their guard refuses it defensively rather than
    * reasoning about a shape the analyzer never emits. A FILTER clause
    * could exclude THE row and refuses. Returns None on anything
    * else — refusal keeps the aggregate.
    */
  private def collapsed(fn: Expression, distinct: Boolean): Option[Expression] = {
    // exact-cast allowlist for sum/avg result widening
    def primitive(t: DataType) = t match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => true
      case _ => false
    }
    fn match {
      case First(attr: AttributeReference, _) if !distinct => Some(attr)
      case Last(attr: AttributeReference, _) if !distinct => Some(attr)
      case m: Min => m.child match {
        case a: AttributeReference => Some(a)
        case _ => None
      }
      case m: Max => m.child match {
        case a: AttributeReference => Some(a)
        case _ => None
      }
      case sm: Sum => sm.child match {
        case a: AttributeReference if primitive(a.dataType) =>
          Some(if (a.dataType == sm.dataType) a else Cast(a, sm.dataType))
        case _ => None
      }
      case av: Average => av.child match {
        case a: AttributeReference if primitive(a.dataType) && av.dataType == DoubleType =>
          Some(Cast(a, DoubleType))
        case _ => None
      }
      case ct: Count =>
        val nullable = ct.children.filter(_.nullable)
        if (nullable.isEmpty) Some(Literal(1L))
        else Some(If(nullable.map(IsNull(_): Expression).reduce(Or), Literal(0L), Literal(1L)))
      case _ => None
    }
  }

  /** Rewrite the aggregate list to its projection form, refusing on the
    * first output that is not a grouping attribute or a collapsible
    * aggregate over the singleton group (see [[collapsed]]).
    */
  private def projected(aggExprs: Seq[NamedExpression],
      grouping: AttributeSet): Option[Seq[NamedExpression]] = {
    val out = aggExprs.map {
      case a: AttributeReference if grouping.contains(a) => a
      case al @ Alias(ae: AggregateExpression, name) if ae.filter.isEmpty =>
        collapsed(ae.aggregateFunction, ae.isDistinct) match {
          case Some(e) => Alias(e, name)(exprId = al.exprId, qualifier = al.qualifier)
          case None => return None
        }
      case _ => return None
    }
    Some(out)
  }

  /** Does any of `keys` trace — by exprId, through row-preserving
    * operators — to a registered primary-key column of a single file
    * scan? Projects may COMPUTE other columns freely (they never add,
    * drop or duplicate rows); only the key itself must pass through as
    * a bare attribute (possibly renamed — the registration name is the
    * SCAN-side name, which the lineage walk recovers). Filters shrink
    * to a subset, Sort/Repartition only reorder — unique + null-free
    * survive all three.
    */
  private def tracesToKey(appId: String, plan: LogicalPlan, keys: Seq[Attribute]): Boolean =
    plan match {
      case lr: LogicalRelation =>
        PlanScans.filteredScanRef(lr).exists(ref =>
          keys.exists(a => TableConstraints.isKey(appId, ref, a.name)))
      case Project(pl, child) =>
        val mapped = keys.flatMap { k =>
          pl.collectFirst {
            case a: AttributeReference if a.exprId == k.exprId => a
            case al @ Alias(a: AttributeReference, _) if al.exprId == k.exprId => a
          }
        }
        mapped.nonEmpty && tracesToKey(appId, child, mapped)
      case Filter(_, child) => tracesToKey(appId, child, keys)
      case s: Sort => tracesToKey(appId, s.child, keys)
      case r: RepartitionOperation => tracesToKey(appId, r.child, keys)
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val appId = SparkSession.active.sparkContext.applicationId
    plan.transformUp {
      case agg @ Aggregate(ge, ae, child, _) if !child.isStreaming =>
        val groupAttrs = ge.collect { case a: AttributeReference => a }
        if (groupAttrs.isEmpty || !tracesToKey(appId, child, groupAttrs)) agg
        else projected(ae, AttributeSet(groupAttrs))
          .map(p => Project(p, child)).getOrElse(agg)
    }
  }
}
