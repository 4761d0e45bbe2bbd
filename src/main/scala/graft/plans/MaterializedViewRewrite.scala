package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Materialized-view roll-up rewrite (OPT-IN): an `Aggregate` over a
  * registered base table re-plans as a (re-)aggregation of its
  * pre-aggregated summary table when the query is derivable from it —
  * grouping columns a subset of the MV's, every aggregate one of the
  * MV's measures, any filter touching only MV grouping columns.
  *
  * Why this matters at 100 TB: the classic warehouse pattern is ONE
  * nightly pass that folds the fact table to a few-thousand-row summary,
  * after which every dashboard/report aggregate reads the summary — a
  * 10^6× scan reduction the OPTIMIZER applies, so users keep writing
  * queries against the base table and old notebooks speed up without
  * edits. This is the query-rewrite half of the project's MV posture
  * ([[graft.Scratch.shared]] is the build-once half; `cmp1`'s
  * VersionedTable is where a production MV would live so refreshes
  * publish atomically).
  *
  * Derivability rules (v1, exactness-preserving only):
  *   - `SUM(e)` over an integral/decimal-typed `e` → `SUM(mv.sum_e)`
  *     (associative and exact; DOUBLE sums are refused — re-aggregation
  *     reorders accumulation, and this library's differential gate
  *     promises bit-stable results);
  *   - `MIN(e)`/`MAX(e)` → `MIN(mv.min_e)`/`MAX(mv.max_e)`;
  *   - `COUNT(*)` → `COALESCE(SUM(mv.cnt), 0)` (the coalesce restores
  *     COUNT's non-null contract; a grouped MV row always has cnt ≥ 1,
  *     the coalesce only fires for a global aggregate over zero rows);
  *   - `COUNT(DISTINCT …)` and FILTER clauses: never derivable from a
  *     grouped summary — left untouched.
  *
  * Measure matching is STRUCTURAL, keyed on the normalized SQL text of
  * the aggregate function as it appears in the OPTIMIZED plan
  * (`AggregateFunction.sql` prints attribute names, not exprIds, so two
  * plans over different scan instances of the same table compare equal).
  * Registration extracts those strings from the MV definition frame's
  * own optimized plan, so definition and query pass through the same
  * analyzer/optimizer normalizations — the same trick Calcite-style MV
  * matching uses, minus algebraic equivalence search (a sum spelled
  * differently than the MV's definition simply doesn't match; the gate
  * entry and spec pin the contract).
  *
  * Scope guards: the child must be a bare scan of the registered base
  * path — attribute-only Projects are looked through, ONE Filter is
  * allowed iff its references are all MV grouping columns (it transplants
  * onto the MV, where partition/min-max pruning applies), anything else
  * (joins, windows, non-trivial projections) disqualifies. Output
  * exprIds are preserved by re-aliasing, so parent operators never see
  * the substitution. Catalog entries are keyed by applicationId — no
  * cross-session leakage. A session carries the rule once installed
  * ([[GraftRules.install]]; the MV gate entries install it on their own
  * session).
  */
object MaterializedViewRewrite extends Rule[LogicalPlan] {

  /** One derivable measure: the MV column holding the partial, the
    * normalized SQL of the base-table aggregate it folds, and how to
    * re-aggregate the partial (`sum` also serves COUNT(*), flagged so
    * the rewrite restores non-nullness).
    */
  final case class Measure(mvCol: String, fnSql: String, reAgg: String, isCount: Boolean)

  /** `mvRelation` is the ANALYZED scan of the summary, captured once at
    * registration: re-planning a query must not pay a parquet listing +
    * footer read per optimizer pass (measured: that overhead alone made
    * the rewrite a net LOSS at sf0.1 — 0.29 s vs 0.24 s for the raw
    * aggregate). Each rewrite takes `newInstance()` of it — fresh
    * exprIds, so the same MV can serve two aggregates in one query
    * without attribute conflicts, with zero IO at plan time.
    *
    * `nullFreeSums`: normalized SQL of the SUM measures whose child was
    * AUDITED null-free over the summarized input at registration time.
    * This is what licenses deriving `AVG(e)` from `SUM(e)` and the MV's
    * `COUNT(*)` partial: avg divides by COUNT(e) — the NON-NULL count —
    * so a COUNT(*)-backed denominator is only correct when e had no
    * nulls. A schema check can't establish that (file sources are
    * always nullable in Spark), so registration runs one counting pass
    * (the registerUnique precedent) and the existing file-listing
    * fingerprint makes the audit durable: any data change stands the
    * whole rewrite down until re-registration re-audits.
    */
  final case class MvDef(baseFingerprint: PlanScans.ScanFingerprint,
      groupCols: Seq[String], measures: Seq[Measure],
      mvRelation: LogicalRelation, nullFreeSums: Set[String] = Set.empty)

  // (applicationId, basePath) -> MvDef; appId-keyed so a
  // restarted session can never see a stale registration.
  private val catalog = new ConcurrentHashMap[(String, String), MvDef]()

  /** Registration-time null-free audit: one counting pass over the
    * summarized input (`child` — the definition Aggregate's own child,
    * so for a star MV this is the fact ⟕ dims join itself), comparing
    * COUNT(child-of-sum) against COUNT(*) per SUM measure. Returns the
    * fnSql of every sum whose child matched — i.e. had zero nulls,
    * including join-introduced ones from unmatched left-join rows.
    * Cost: one extra aggregate over input the MV build just scanned
    * anyway; valid as long as the listing fingerprint holds.
    */
  private def auditNullFree(spark: SparkSession, child: LogicalPlan,
      sums: Seq[(String, Expression)]): Set[String] = {
    if (sums.isEmpty) return Set.empty
    val aggs: Seq[NamedExpression] =
      Alias(AggregateExpression(Count(Seq(Literal(1))), Complete, isDistinct = false), "_n")() +:
        sums.zipWithIndex.map { case ((_, c), i) =>
          Alias(AggregateExpression(Count(Seq(c)), Complete, isDistinct = false), s"_c$i")()
        }
    val row = org.apache.spark.sql.GraftShims
      .ofRows(spark, Aggregate(Nil, aggs, child)).collect()(0)
    val n = row.getLong(0)
    sums.zipWithIndex.collect { case ((sql, _), i) if row.getLong(i + 1) == n => sql }.toSet
  }

  /** Register `mvDf` (an Aggregate over `base`, already written to
    * `mvPath`) as the summary of `base`. Group columns must be plain
    * base columns aliased to themselves; measures are extracted from the
    * definition's optimized plan (see scaladoc).
    *
    * REFRESH CONTRACT: the summary's analyzed scan (its file listing)
    * is captured HERE — rewrites pay zero plan-time IO, which also
    * means a refresh that rewrites `mvPath` in place is invisible (and
    * leaves the cached listing pointing at deleted part-files). A
    * refresh job must re-register, which atomically replaces the
    * catalog entry; the natural spelling is opt6's — publish each
    * refresh as a NEW `VersionedTable` version and register that
    * version's path.
    *
    * BASE-SIDE STALENESS: the base scan's file-listing fingerprint is
    * captured here too, and the rewrite compares it against the
    * query-side relation's listing on every match — if part-files were
    * appended (or compacted, or overwritten) after registration, the
    * rewrite STANDS DOWN and the query runs on the base table until a
    * refresh re-registers over the new listing. Without this, the MV
    * would keep answering with a summary silently missing the new rows
    * (VERDICT r13 #2).
    */
  def register(spark: SparkSession, base: DataFrame, mvDf: DataFrame, mvPath: String): Unit = {
    // row-preserving walk: the base frame may carry normalization
    // Projects (e.g. Tables' NTZ-timestamp cast) above the relation —
    // those never add/drop/duplicate rows; anything else (a Filter, a
    // Join) would make the registration a lie. QUERY matching
    // (unwrapScan) stays strict.
    val baseRef = PlanScans.rowPreservingScanRef(base.queryExecution.optimizedPlan)
      .getOrElse(throw new IllegalArgumentException(
        "MV base must be a row-preserving chain over a single file-source scan"))
    val basePath = baseRef.path
    val (groupCols, measures, nullFree) = mvDf.queryExecution.optimizedPlan.collectFirst {
      case Aggregate(ge, ae, child, _) =>
        // the definition must summarize EVERY row of the base scan: a
        // Filter (or join, or sample) between the Aggregate and the
        // scan would register a partial summary that later rewrites
        // whole-table queries to silently wrong results (r13 review).
        val defPath = PlanScans.rowPreservingScanPath(child).getOrElse(
          throw new IllegalArgumentException(
            "MV definition must aggregate a row-preserving chain over the base scan " +
              "(no filters/joins between the Aggregate and the scan)"))
        if (defPath != basePath) throw new IllegalArgumentException(
          s"MV definition aggregates $defPath, not the base scan $basePath")
        val groups = ge.map {
          case a: AttributeReference => a.name
          case other => throw new IllegalArgumentException(
            s"MV grouping expressions must be plain columns, got $other")
        }
        val ms = ae.collect {
          case Alias(AggregateExpression(fn, _, false, None, _), name) => fn match {
            case Sum(_, _) => Measure(name, fn.sql, "sum", isCount = false)
            case _: Count => Measure(name, fn.sql, "sum", isCount = true)
            case Min(_) => Measure(name, fn.sql, "min", isCount = false)
            case Max(_) => Measure(name, fn.sql, "max", isCount = false)
            case other => throw new IllegalArgumentException(
              s"MV measures must be SUM/COUNT/MIN/MAX, got ${other.sql}")
          }
        }
        val sumKids = ae.collect {
          case Alias(AggregateExpression(fn @ Sum(c, _), _, false, None, _), _) => (fn.sql, c)
        }
        (groups, ms, auditNullFree(spark, child, sumKids))
    }.getOrElse(throw new IllegalArgumentException("MV definition must be an Aggregate"))
    val mvRelation = spark.read.parquet(mvPath).queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation => lr
    }.getOrElse(throw new IllegalStateException(s"MV at $mvPath did not analyze to a scan"))
    catalog.put((spark.sparkContext.applicationId, basePath),
      MvDef(baseRef.fingerprint, groupCols, measures, mvRelation, nullFree))
    ()
  }

  // ------------------------------------------------------ star-schema MVs

  /** One dimension leg of a star MV: the dim's scan (path +
    * fingerprint + full schema names) and the equi-key pair, left key
    * ON THE FACT.
    */
  final case class DimJoin(path: String, fingerprint: PlanScans.ScanFingerprint,
      leftKey: String, rightKey: String, schemaNames: Seq[String])

  /** A star MV: an aggregate over fact ⟕ dims (all LEFT OUTER
    * equi-joins whose left keys are fact columns). Soundness of
    * matching needs NO uniqueness constraint: if the fact and every
    * dim have the same file listing the query's join is bag-identical
    * to the join the MV summarized (pure-star left joins commute —
    * each leg multiplies a fact row by max(matches, 1) independently
    * of the others — so dim ORDER is canonicalized away), and the MV
    * summarizes exactly the query's input.
    */
  final case class StarDef(factPath: String, factFp: PlanScans.ScanFingerprint,
      dims: Seq[DimJoin], groupCols: Seq[String], measures: Seq[Measure],
      mvRelation: LogicalRelation, nullFreeSums: Set[String] = Set.empty)

  // (applicationId, canonical star signature) -> StarDef
  private val starCatalog = new ConcurrentHashMap[(String, String), StarDef]()

  private def starKey(factPath: String, dims: Seq[DimJoin]): String =
    factPath + dims.map(d => s"|${d.path}~${d.leftKey}~${d.rightKey}")
      .sorted.mkString

  private def sortedDims(dims: Seq[DimJoin]): Seq[DimJoin] =
    dims.sortBy(d => (d.path, d.leftKey, d.rightKey, d.fingerprint.files,
      d.fingerprint.bytes, d.fingerprint.maxMtime))

  /** Unwrap a pure-star join tree: a chain of LEFT OUTER single-pair
    * equi-joins whose right sides are bare dim scans and whose left
    * keys are FACT columns (a dim-sourced left key would be a
    * snowflake — refused, the commutation argument needs independence),
    * over a fact leaf accepted by `leaf` (row-preserving at
    * registration; bare-scan-plus-one-filter on the query side). The
    * fact leaf may yield ONE deterministic filter (the optimizer
    * pushes a dashboard's WHERE below the joins onto the fact scan);
    * [[tryRewrite]] admits it only over MV GROUPING columns and
    * transplants it 1:1 onto the summary — sound because a fact-column
    * filter commutes with every left dim join, so the filtered join's
    * groups are exactly the MV groups passing the predicate. Dim legs
    * stay predicate-free (beyond the optimizer's own isnotnull(key)):
    * a filtered dim means the query joins a SUBSET of what the MV
    * summarized.
    */
  private def unwrapStarShape(plan: LogicalPlan,
      leaf: LogicalPlan => Option[(PlanScans.ScanRef, Option[Expression])])
      : Option[(PlanScans.ScanRef, AttributeSet, Seq[DimJoin], Option[Expression])] = plan match {
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      unwrapStarShape(child, leaf)
    case Join(l, r, LeftOuter, Some(EqualTo(x: AttributeReference, y: AttributeReference)), _) =>
      for {
        (fRef, factOut, dims, factFilter) <- unwrapStarShape(l, leaf)
        keys <- {
          val rOut = r.outputSet
          if (rOut.contains(y) && !rOut.contains(x)) Some((x, y))
          else if (rOut.contains(x) && !rOut.contains(y)) Some((y, x))
          else None
        }
        if factOut.contains(keys._1) // pure star: left key on the fact
        rRef <- dimScanRef(r, keys._2)
      } yield (fRef, factOut, dims :+ DimJoin(rRef.path, rRef.fingerprint,
        keys._1.name, keys._2.name, rRef.schemaNames), factFilter)
    case other =>
      leaf(other).map { case (ref, f) => (ref, other.outputSet, Seq.empty[DimJoin], f) }
  }

  /** Registration-side fact leaf: row-preserving chain, NO filters (the
    * definition must summarize every fact row).
    */
  private def regFactLeaf(plan: LogicalPlan): Option[(PlanScans.ScanRef, Option[Expression])] =
    PlanScans.rowPreservingScanRef(plan).map(r => (r, None))

  /** Query-side fact leaf: a bare scan, optionally under ONE
    * deterministic pushed-down Filter (attribute-only Projects looked
    * through on either side — [[PlanScans.bareScanRef]] refuses a
    * second Filter below).
    */
  private def queryFactLeaf(plan: LogicalPlan): Option[(PlanScans.ScanRef, Option[Expression])] =
    plan match {
      case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        queryFactLeaf(child)
      case Filter(cond, child) if cond.deterministic =>
        PlanScans.bareScanRef(child).map(r => (r, Some(cond)))
      case other => PlanScans.bareScanRef(other).map(r => (r, None))
    }

  /** Bare dim scan, admitting ONLY the optimizer's own
    * `isnotnull(rightKey)` (null keys never match a LEFT join's
    * condition, so dropping them is the identity on the join output —
    * the optimizer plants exactly this via constraint inference). Any
    * other predicate means the query joins a SUBSET of the dim the MV
    * summarized: refuse.
    */
  private def dimScanRef(plan: LogicalPlan,
      rightKey: AttributeReference): Option[PlanScans.ScanRef] = {
    def keyNotNullOnly(cond: Expression): Boolean = cond match {
      case And(a, b) => keyNotNullOnly(a) && keyNotNullOnly(b)
      case IsNotNull(a: AttributeReference) => a.exprId == rightKey.exprId
      case _ => false
    }
    plan match {
      case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        dimScanRef(child, rightKey)
      case Filter(cond, child) if keyNotNullOnly(cond) => dimScanRef(child, rightKey)
      case lr: LogicalRelation => PlanScans.bareScanRef(lr)
      case _ => None
    }
  }

  /** Register `mvDf` — an Aggregate over a pure-star join tree,
    * already written to `mvPath` — as the star summary of its fact
    * table. Everything (fact path, dim legs, group columns, measures)
    * is extracted from the definition's own optimized plan; group and
    * measure name resolution must be unambiguous across the join
    * output (fact/dim column name collisions are refused). The same
    * staleness contract as [[register]] applies to the fact AND every
    * dim: any listing change stands the rewrite down until
    * re-registration.
    */
  def registerStar(spark: SparkSession, mvDf: DataFrame, mvPath: String): Unit = {
    val reg = mvDf.queryExecution.optimizedPlan.collectFirst {
      case Aggregate(ge, ae, child, _) =>
        val (factRef, _, dims, _) =
          unwrapStarShape(child, regFactLeaf).getOrElse(
            throw new IllegalArgumentException(
              "star MV definition must aggregate a pure-star join tree " +
                "(LEFT OUTER equi-joins of bare dim scans onto one fact scan)"))
        if (dims.isEmpty) throw new IllegalArgumentException(
          "no dimension joins found — use register() for single-table MVs")
        val groups = ge.map {
          case a: AttributeReference => a.name
          case other => throw new IllegalArgumentException(
            s"star MV grouping expressions must be plain columns, got $other")
        }
        val ms = ae.collect {
          case Alias(AggregateExpression(fn, _, false, None, _), name) => fn match {
            case Sum(_, _) => Measure(name, fn.sql, "sum", isCount = false)
            case _: Count => Measure(name, fn.sql, "sum", isCount = true)
            case Min(_) => Measure(name, fn.sql, "min", isCount = false)
            case Max(_) => Measure(name, fn.sql, "max", isCount = false)
            case other => throw new IllegalArgumentException(
              s"star MV measures must be SUM/COUNT/MIN/MAX, got ${other.sql}")
          }
        }
        // name-resolution ambiguity guard: query matching binds group
        // columns, measures and filters by NAME, so every referenced
        // name must live on exactly ONE leg of the star. Checked
        // against the legs' FULL schemas, not the plan output — column
        // pruning removes an unreferenced duplicate from the optimized
        // output, and a later query referencing the OTHER leg's column
        // of that name would bind to this MV's wrong-leg values (the
        // r14 review found the output-based check vacuous for exactly
        // this reason).
        val referenced = (ge.flatMap(_.references) ++
          ae.collect { case Alias(AggregateExpression(fn, _, _, _, _), _) => fn }
            .flatMap(_.references)).map(_.name).toSet
        val legSchemas = factRef.schemaNames +: dims.map(_.schemaNames)
        val dup = referenced.filter(n => legSchemas.count(_.contains(n)) != 1)
        if (dup.nonEmpty) throw new IllegalArgumentException(
          s"ambiguous column name(s) across the star join's legs: ${dup.mkString(", ")}")
        val sumKids = ae.collect {
          case Alias(AggregateExpression(fn @ Sum(c, _), _, false, None, _), _) => (fn.sql, c)
        }
        StarDef(factRef.path, factRef.fingerprint, sortedDims(dims), groups, ms,
          null, auditNullFree(spark, child, sumKids))
    }.getOrElse(throw new IllegalArgumentException("star MV definition must be an Aggregate"))
    val mvRelation = spark.read.parquet(mvPath).queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation => lr
    }.getOrElse(throw new IllegalStateException(s"MV at $mvPath did not analyze to a scan"))
    starCatalog.put((spark.sparkContext.applicationId, starKey(reg.factPath, reg.dims)),
      reg.copy(mvRelation = mvRelation))
    ()
  }

  /** Query-side star match: same shape walk with the STRICT fact leaf,
    * catalog hit on the canonical signature, then fingerprint equality
    * on the fact and every dim leg (staleness: any appended/compacted
    * leg stands the rewrite down).
    */
  private def tryStar(spark: SparkSession, appId: String, agg: Aggregate, ge: Seq[Expression],
      ae: Seq[NamedExpression], child: LogicalPlan): Option[LogicalPlan] =
    for {
      (factRef, _, dims, factFilter) <- unwrapStarShape(child, queryFactLeaf)
      if dims.nonEmpty
      sd <- Option(starCatalog.get((appId, starKey(factRef.path, dims))))
      if sd.factFp == factRef.fingerprint
      if sortedDims(dims) == sd.dims
      // no query-side name guard is needed: everything the rewrite can
      // bind resolves through mv.groupCols / registered measure text,
      // and registration's LEG-SCHEMA guard proved each of those names
      // lives on exactly one leg — with leg schemas pinned identical by
      // the fingerprint equality above, a query attribute of that name
      // can only be that leg's column. A query referencing a name the
      // registration never did simply fails to match (missed rewrite).
      out <- tryRewrite(spark, agg, ge, ae, factFilter,
        MvDef(sd.factFp, sd.groupCols, sd.measures, sd.mvRelation, sd.nullFreeSums))
    } yield out

  /** Strip attribute-only Projects; allow one Filter. Returns the base
    * scan path and the optional filter condition. Single-root only
    * ([[PlanScans]] — a multi-path scan is a union the MV knows nothing
    * about).
    */
  private def unwrapScan(plan: LogicalPlan): Option[(PlanScans.ScanRef, Option[Expression])] =
    plan match {
      case lr: LogicalRelation => PlanScans.bareScanRef(lr).map(r => (r, None))
      case Project(projList, child) if projList.forall(_.isInstanceOf[AttributeReference]) =>
        unwrapScan(child)
      case Filter(cond, child) =>
        unwrapScan(child).flatMap {
          case (r, None) => Some((r, Some(cond)))
          case _ => None // two filters: stay out
        }
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val spark = SparkSession.active
    val appId = spark.sparkContext.applicationId
    plan.transformUp {
      case agg @ Aggregate(ge, ae, child, _) =>
        val rewritten = (for {
          (ref, filterOpt) <- unwrapScan(child)
          mv <- Option(catalog.get((appId, ref.path)))
          // staleness gate: the query-side listing must be the listing
          // the MV summarized — files appended/compacted/overwritten
          // since registration would make the summary silently wrong,
          // so the rewrite stands down and the query runs on the base.
          if mv.baseFingerprint == ref.fingerprint
          out <- tryRewrite(spark, agg, ge, ae, filterOpt, mv)
        } yield out).orElse(tryStar(spark, appId, agg, ge, ae, child))
        rewritten.getOrElse(agg)
    }
  }

  private def tryRewrite(spark: SparkSession, agg: Aggregate, ge: Seq[Expression],
      ae: Seq[NamedExpression], filterOpt: Option[Expression], mv: MvDef): Option[LogicalPlan] = {
    // grouping must be plain columns, each one an MV grouping column
    val groupNames = ge.map {
      case a: AttributeReference if mv.groupCols.contains(a.name) => a.name
      case _ => return None
    }
    // a filter may only touch MV grouping columns (it transplants 1:1)
    filterOpt.foreach { cond =>
      if (!cond.deterministic) return None
      if (!cond.references.forall(r => mv.groupCols.contains(r.name))) return None
    }
    val mvPlan = mv.mvRelation.newInstance() // fresh exprIds, zero plan-time IO
    val mvAttr: Map[String, AttributeReference] =
      mvPlan.output.collect { case a: AttributeReference => a.name -> a }.toMap
    if (!mv.groupCols.forall(mvAttr.contains) || !mv.measures.forall(m => mvAttr.contains(m.mvCol)))
      return None

    // Transplant one aggregate call onto the MV partials. The generic
    // arm re-aggregates a recorded measure (structural fnSql match,
    // float partials refused — accumulation order, COUNT coalesced back
    // to its non-null contract). The AVG arm DERIVES avg(e) from
    // sum(e) and a count without any avg partial in the summary:
    // exact integral total, exact row total, ONE final division —
    // value-identical to Average for integral children wherever the
    // double-accumulated raw sum is itself exact (always below 2^53;
    // past it the derived path is strictly MORE exact), and refused for
    // float/decimal children. The denominator must be COUNT(e) — the
    // non-null count — so COUNT(*) serves only when registration's
    // null-free audit proved e had no nulls (nullFreeSums; the listing
    // fingerprint keeps that audit current). COUNT(DISTINCT …) never
    // derives from a grouped summary: the isDistinct=false pattern
    // refuses it here, MvRewriteSpec pins the refusal.
    def deriveAggE(aggE: AggregateExpression): Option[Expression] = aggE match {
      case AggregateExpression(fn, _, false, None, _) =>
        def partialOf(m: Measure): Option[AttributeReference] =
          mvAttr.get(m.mvCol).filterNot(a =>
            Seq(org.apache.spark.sql.types.DoubleType,
              org.apache.spark.sql.types.FloatType).contains(a.dataType))
        fn match {
          case Average(e, _) if Seq[org.apache.spark.sql.types.DataType](
              org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
              org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
              .contains(e.dataType) =>
            for {
              sumM <- mv.measures.find(m =>
                !m.isCount && m.reAgg == "sum" && m.fnSql == Sum(e).sql)
              cntM <- mv.measures.find(m => m.isCount && m.fnSql == Count(Seq(e)).sql)
                .orElse(mv.measures.find(m => m.isCount && m.fnSql == "count(1)")
                  .filter(_ => mv.nullFreeSums.contains(sumM.fnSql)))
              sumP <- partialOf(sumM)
              cntP <- mvAttr.get(cntM.mvCol)
              // fresh resultIds: physical planning dedupes aggregate
              // calls BY resultId, so two copies sharing the avg's
              // original id would collapse into one buffer (ratio 1.0)
              out = Divide(
                Cast(aggE.copy(aggregateFunction = Sum(sumP),
                  resultId = NamedExpression.newExprId),
                  org.apache.spark.sql.types.DoubleType),
                Cast(aggE.copy(aggregateFunction = Sum(cntP),
                  resultId = NamedExpression.newExprId),
                  org.apache.spark.sql.types.DoubleType))
              if out.dataType == aggE.dataType
            } yield out
          case _ =>
            for {
              m <- mv.measures.find(_.fnSql == fn.sql)
              partial <- partialOf(m)
              reAggE = aggE.copy(aggregateFunction = m.reAgg match {
                case "sum" => Sum(partial)
                case "min" => Min(partial)
                case "max" => Max(partial)
              })
              body = if (m.isCount) Coalesce(Seq(reAggE, Literal(0L))) // COUNT is non-null
                     else reAggE: Expression
              if body.dataType == aggE.dataType // type-preserving or bust
            } yield body
        }
      case _ => None
    }
    // An output expression is derivable when every aggregate call in it
    // derives from a measure and every reference OUTSIDE aggregates is
    // a group column (evaluates identically per output group on either
    // side). This one walk subsumes the bare-group-column, scalar-over-
    // group (COALESCE(g, -1) — CollapseProject folds such projections
    // INTO the Aggregate, so dashboards hit it routinely) and plain-
    // measure shapes, and additionally admits scalar shells over
    // aggregates (floor(avg(x) * 1000), sum(a) - sum(b)). Manual
    // recursion, not transform: the derived subtree's own MV attrs
    // must not re-enter the group-column check.
    def transplant(e: Expression): Option[Expression] = e match {
      case aggE: AggregateExpression => deriveAggE(aggE)
      case a: AttributeReference =>
        if (groupNames.contains(a.name)) mvAttr.get(a.name) else None
      case other if other.deterministic =>
        val kids = other.children.map(transplant)
        if (kids.contains(None)) None else Some(other.withNewChildren(kids.map(_.get)))
      case _ => None
    }
    val newAggExprs: Seq[NamedExpression] = ae.map {
      case a: AttributeReference if groupNames.contains(a.name) =>
        Alias(mvAttr(a.name), a.name)(exprId = a.exprId, qualifier = a.qualifier)
      case al @ Alias(e, name) =>
        transplant(e) match {
          case Some(onMv) => Alias(onMv, name)(exprId = al.exprId, qualifier = al.qualifier)
          case None => return None
        }
      case _ => return None
    }
    val newGroup: Seq[Expression] = groupNames.map(mvAttr(_))
    val newChild: LogicalPlan = filterOpt match {
      case Some(cond) =>
        val onMv = cond.transform {
          case a: AttributeReference => mvAttr.getOrElse(a.name, return None)
        }
        Filter(onMv, mvPlan)
      case None => mvPlan
    }
    Some(Aggregate(newGroup, newAggExprs, newChild))
  }
}
