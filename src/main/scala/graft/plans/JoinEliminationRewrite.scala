package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Constraint-based JOIN ELIMINATION (opt-in): a LEFT OUTER join whose
  * right side is a bare scan of a table with a VERIFIED-unique join key
  * is dropped entirely when nothing above the join references a right
  * column. Soundness is pure algebra, no referential integrity needed:
  * a left join never filters left rows, and a unique right key never
  * duplicates them (rows matching zero right rows survive with nulls
  * the parent provably never reads; duplicate NULL keys on the right
  * are irrelevant — `=` is never true on null); so the join is
  * row-for-row the left child.
  *
  * Why this matters at 100 TB: generated BI SQL and view stacks
  * routinely join every dimension "just in case" and then project none
  * of its columns — each such join is a full dimension scan plus a
  * shuffle or broadcast that produces NOTHING. Warehouses eliminate
  * these from declared primary keys; Spark has no PK metadata, so this
  * library's spelling is [[TableConstraints.registerUnique]]: an
  * ANALYZE-style registration that VERIFIES uniqueness with one
  * aggregate pass (`count(col) == count(distinct col)`) before the
  * planner is allowed to trust it — a false declaration is refused, not
  * silently believed. Registrations are appId-keyed like the MV catalog.
  *
  * Scope guards mirror [[MaterializedViewRewrite]]: the right side must
  * unwrap (through attribute-only Projects) to a file scan of the
  * registered path; the condition must be a single equi-pair on the
  * registered unique column; the parent must be a Project or Aggregate
  * whose references are all left-side (projection-like parents define
  * their output, so no right attr can leak past them; a Filter parent
  * passes right columns through and is deliberately NOT eligible).
  * A session carries it once installed ([[GraftRules.install]]; opt7
  * and opt9 install it on their own session).
  */
object JoinEliminationRewrite extends Rule[LogicalPlan] {

  /** The right side qualifies iff it is a (possibly filtered) bare
    * SINGLE-ROOT scan of a path whose (path, keyCol) uniqueness was
    * verified-and-registered. Filters are sound here — they only
    * shrink the match set, which a left join converts to
    * null-extension the parent provably never reads, and a unique key
    * stays unique on every subset (the optimizer itself plants
    * isnotnull(key) here). A multi-path scan is a UNION the constraint
    * was never verified on — [[PlanScans]] refuses it.
    */
  private def uniqueKeyOf(appId: String, right: LogicalPlan,
      attr: AttributeReference): Boolean =
    PlanScans.filteredScanRef(right).exists(r => TableConstraints.isUnique(appId, r, attr.name))

  private def eligible(appId: String, parentRefs: AttributeSet, j: Join): Option[LogicalPlan] =
    j match {
      case Join(l, r, LeftOuter, Some(EqualTo(a: AttributeReference, b: AttributeReference)), _) =>
        val (rightKey, leftKey) =
          if (r.outputSet.contains(b)) (b, a)
          else if (r.outputSet.contains(a)) (a, b)
          else return None
        if (!l.outputSet.contains(leftKey)) return None
        if (!parentRefs.subsetOf(l.outputSet)) return None
        if (!uniqueKeyOf(appId, r, rightKey)) return None
        Some(l)
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val appId = SparkSession.active.sparkContext.applicationId
    plan.transformUp {
      // projection-like parents only: their output is their expr list,
      // so right-side attrs cannot leak upward once references check out
      case p @ Project(_, j: Join) =>
        eligible(appId, p.references, j).map(l => p.copy(child = l)).getOrElse(p)
      case a @ Aggregate(_, _, j: Join, _) =>
        eligible(appId, a.references, j).map(l => a.copy(child = l)).getOrElse(a)
    }
  }
}

/** Verified table constraints, ANALYZE-style: registration runs the
  * audit pass and refuses a false claim.
  */
object TableConstraints {

  // (appId, scanPath, column) -> the file-listing fingerprint the
  // audit ran over. A constraint is only trusted against a query-side
  // scan with the SAME fingerprint: files appended after the audit
  // were never verified, and a duplicate key in one of them would make
  // the "unique" claim — and every rewrite built on it — silently
  // wrong (VERDICT r13 #2).
  private val unique =
    new ConcurrentHashMap[(String, String, String), PlanScans.ScanFingerprint]()

  /** Verify `col` is duplicate-free among non-null values of `df`'s
    * single file scan, and register on success. Returns whether the
    * constraint now holds (false = audit refused it; nothing recorded).
    *
    * `df` must be a ROW-PRESERVING chain over the scan (normalization
    * Projects fine; Filters/joins/limits REFUSED with a throw): an
    * audit over a filtered slice would verify uniqueness on the subset
    * and register it against the full table — the subset-verified-
    * constraint hole the r13 review flagged.
    *
    * Re-registering after the table changed re-runs the audit over the
    * new listing and replaces the stored fingerprint (the memo
    * short-circuits only while the listing is unchanged).
    */
  def registerUnique(spark: SparkSession, df: DataFrame, col: String): Boolean = {
    import org.apache.spark.sql.functions.{count, countDistinct, col => c}
    val ref = PlanScans.rowPreservingScanRef(df.queryExecution.optimizedPlan).getOrElse(
      throw new IllegalArgumentException(
        "constraint base must be a row-preserving chain over a single file-source scan " +
          "(no filters/joins/limits: the audit must see every row)"))
    val key = (spark.sparkContext.applicationId, ref.path, col)
    if (ref.fingerprint == unique.get(key)) return true // audited this exact listing
    val row = df.agg(count(c(col)).as("n"), countDistinct(c(col)).as("d")).collect()(0)
    val ok = row.getLong(0) == row.getLong(1)
    if (ok) unique.put(key, ref.fingerprint) else unique.remove(key)
    ok
  }

  def isUnique(appId: String, ref: PlanScans.ScanRef, col: String): Boolean =
    ref.fingerprint == unique.get((appId, ref.path, col))

  // (appId, scanPath, column) -> listing fingerprint for the FULL
  // primary-key contract: unique AND null-free. Kept separate from
  // `unique` because the two audits trust different rewrites —
  // distinct elimination is unsound on a merely-unique column with
  // several null rows (equal NULL keys dedup to one).
  private val keys =
    new ConcurrentHashMap[(String, String, String), PlanScans.ScanFingerprint]()

  /** Verify `col` is unique AND null-free over `df`'s single file scan
    * (the PRIMARY KEY contract), registering on success — the stronger
    * sibling of [[registerUnique]], with the same row-preserving-chain
    * and fingerprint rules. A verified key is also recorded as unique
    * (the weaker constraint follows a fortiori).
    */
  def registerKey(spark: SparkSession, df: DataFrame, col: String): Boolean = {
    import org.apache.spark.sql.functions.{count, countDistinct, lit, col => c}
    val ref = PlanScans.rowPreservingScanRef(df.queryExecution.optimizedPlan).getOrElse(
      throw new IllegalArgumentException(
        "constraint base must be a row-preserving chain over a single file-source scan " +
          "(no filters/joins/limits: the audit must see every row)"))
    val key = (spark.sparkContext.applicationId, ref.path, col)
    if (ref.fingerprint == keys.get(key)) return true // audited this exact listing
    val row = df.agg(count(lit(1)).as("rows"), count(c(col)).as("n"),
      countDistinct(c(col)).as("d")).collect()(0)
    val ok = row.getLong(0) == row.getLong(1) && row.getLong(1) == row.getLong(2)
    if (ok) { keys.put(key, ref.fingerprint); unique.put(key, ref.fingerprint) }
    else keys.remove(key)
    ok
  }

  def isKey(appId: String, ref: PlanScans.ScanRef, col: String): Boolean =
    ref.fingerprint == keys.get((appId, ref.path, col))
}
