package graft.plans

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}

/** THE scan-path extraction for the constraint/MV rule family — one
  * implementation with one contract, because each caller's soundness
  * argument leans on exactly what these walks admit (five divergent
  * copies is how the multi-path hole slipped in; r13 review).
  *
  * SINGLE-ROOT is load-bearing everywhere: a scan reading several
  * paths (`spark.read.parquet(a, b)`) is a bag UNION — uniqueness
  * verified on one path says nothing about the union (a key present in
  * both paths duplicates), and an MV of one path is missing the other
  * path's rows. Every extractor returns None for multi-root scans.
  *
  * Every extractor returns a [[ScanRef]] carrying the scan's
  * FILE-LISTING FINGERPRINT beside its path. Registration-time trust
  * (a verified-unique key, an MV summary) is only as fresh as the
  * listing it was computed over: if part-files are appended to the base
  * path afterwards, a path-keyed catalog would keep rewriting queries
  * to a summary that is silently missing the new rows, or keep
  * trusting a uniqueness that was never re-verified (VERDICT r13 #2 —
  * "registered once, believed forever"). The query-side relation's
  * listing is already in driver memory at plan time, so comparing
  * fingerprints is free; on mismatch every rule stands down and the
  * query runs un-rewritten — correct, just unoptimized — until the
  * catalog entry is re-registered over the new listing.
  */
object PlanScans {

  /** File-listing fingerprint: file count + total bytes + newest
    * mtime. Any append, delete, overwrite or compaction of the listed
    * files moves at least one component (an in-place same-size rewrite
    * moves mtime, up to the filesystem's mtime granularity — the one
    * residual blind window, inherent to listing-based freshness).
    * Computed from the ALREADY-LISTED in-memory index — no filesystem
    * IO at plan time. Only [[PartitioningAwareFileIndex]] exposes the
    * per-file listing; any other index would have to fall back to
    * (count, estimated bytes, mtime=0), under which an in-place
    * same-size same-count rewrite passes undetected — so extraction
    * REFUSES there (r14 ADVICE): no fingerprint means no registration
    * and no rewrite, correct-but-unoptimized rather than stale.
    */
  final case class ScanFingerprint(files: Int, bytes: Long, maxMtime: Long)

  /** A single-root file scan: its root path, the listing fingerprint
    * of the relation instance the caller walked, and the relation's
    * FULL schema names (pre-pruning — the optimizer's column pruning
    * hides unreferenced columns from `plan.output`, so ambiguity
    * checks over the visible output are vacuous; the star-MV rule's
    * name-resolution guard needs the table's real column set).
    */
  final case class ScanRef(path: String, fingerprint: ScanFingerprint,
      schemaNames: Seq[String])

  private def fingerprintOf(h: HadoopFsRelation): Option[ScanFingerprint] = h.location match {
    case p: PartitioningAwareFileIndex =>
      val fs = p.allFiles()
      Some(ScanFingerprint(fs.length, fs.iterator.map(_.getLen).sum,
        if (fs.isEmpty) 0L else fs.iterator.map(_.getModificationTime).max))
    case _ => None // non-listing index: no trustworthy fingerprint — refuse
  }

  private def refOf(lr: LogicalRelation): Option[ScanRef] = lr.relation match {
    case h: HadoopFsRelation if h.location.rootPaths.length == 1 =>
      fingerprintOf(h).map(fp =>
        ScanRef(h.location.rootPaths.head.toString, fp, h.schema.fieldNames.toSeq))
    case _ => None // multi-path or non-file relation: refuse
  }

  private def attrsOnly(projList: Seq[NamedExpression]): Boolean =
    projList.forall(_.isInstanceOf[AttributeReference])

  /** Bare scan under attribute-only Projects. The strictest walk: any
    * Filter/Join/Limit/Sample/aggregate refuses. What "a scan of the
    * registered table" means on the MV rule's QUERY side.
    */
  def bareScanRef(plan: LogicalPlan): Option[ScanRef] = plan match {
    case lr: LogicalRelation => refOf(lr)
    case Project(pl, child) if attrsOnly(pl) => bareScanRef(child)
    case _ => None
  }

  /** Bare scan, additionally looking through Filters. Sound ONLY where
    * the caller's algebra tolerates an arbitrary right-side predicate:
    * join elimination (a filtered match set null-extends rows the
    * parent never reads; uniqueness survives subsetting) and eager
    * aggregation (an inner join's right filter only selects which
    * groups survive). The optimizer itself plants isnotnull(key) here.
    */
  def filteredScanRef(plan: LogicalPlan): Option[ScanRef] = plan match {
    case lr: LogicalRelation => refOf(lr)
    case Project(pl, child) if attrsOnly(pl) => filteredScanRef(child)
    case Filter(_, child) => filteredScanRef(child)
    case _ => None
  }

  /** Row-preserving chain to a scan: Projects with arbitrary
    * DETERMINISTIC expressions are admitted (they never add, drop or
    * duplicate rows), Filters and everything else refuse. What an
    * AUDIT must see: `TableConstraints.registerUnique` verifying a key
    * on this plan really verified it on every row of the scan, and an
    * MV definition aggregating this plan really summarized the whole
    * table (a Filter here was the r13-review hole: a subset-verified
    * "constraint" licensing rewrites on the full table).
    */
  def rowPreservingScanRef(plan: LogicalPlan): Option[ScanRef] = plan match {
    case lr: LogicalRelation => refOf(lr)
    case Project(pl, child) if pl.forall(_.deterministic) => rowPreservingScanRef(child)
    case _ => None
  }

  def rowPreservingScanPath(plan: LogicalPlan): Option[String] =
    rowPreservingScanRef(plan).map(_.path)
}
