package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{udaf, when, xxhash64}

/** KMV (bottom-k / theta) distinct-count sketch.
  *
  * Keeps the k smallest distinct 64-bit hashes seen; the k-th minimum
  * estimates the NDV as (k-1)/R with R the k-th minimum mapped to (0,1]
  * (Bar-Yossef et al., RANDOM'02; the mergeable-summaries shape). Below
  * k distinct hashes the kept set IS the distinct set, so the answer is
  * exact — low-cardinality columns pay nothing for the estimator.
  *
  * Why not `approx_count_distinct(c, 0.01)`: Spark's HLL++ buffer is one
  * LongType attribute per register word — at rsd 0.01 that is ~2.7k
  * buffer fields PER SKETCH, which blows up the aggregate's buffer
  * schema (4 sketches ≈ 11k fields) and, sharing a node with any
  * DISTINCT aggregate, gets allocated once per distinct value of the
  * Expand partial (the r9 dq9 13.8× regression). This sketch is ONE
  * buffer object per group under ObjectHashAggregate: a flat primitive
  * pool with lazy compaction, serialized only at the partial boundary.
  *
  * Determinism: the set of k smallest distinct hashes — and therefore
  * the estimate — is independent of partition count and row order, and
  * xxhash64 is seed-fixed, so the estimate is a pure function of the
  * data. Accuracy: relative sigma ≈ 1/sqrt(k-2) (1.1% at the default
  * k=8192, a 4.5-sigma margin under a 5% bound). 64-bit hash collisions
  * undercount one distinct per colliding pair — birthday odds at 10^9
  * distinct are ~3%, of losing ONE count in 10^9, far inside the sigma.
  *
  * Scale shape: per-partition state is ≤ 2k longs no matter how many
  * rows stream through; the shuffle carries ≤ 2k longs per (group ×
  * partition). A 100 TB scan ships kilobytes, not distinct values.
  *
  * Pool convention: hashes are stored SIGN-FLIPPED (h ^ Long.MinValue)
  * so plain signed sorts/compares realize unsigned order; `theta` is the
  * flipped exclusive admission bound (starts at Long.MaxValue = accept
  * everything). The pool may hold duplicates between compactions;
  * `compact` sorts, dedups, trims to k, and tightens theta to the k-th
  * minimum. Appends mutate `arr` in place (the buffer object lives
  * across rows under ObjectHashAggregate); `n`/`theta` ride in the
  * cheap immutable wrapper.
  */
case class KmvBuf(n: Int, theta: Long, arr: Array[Long])

/** The sketch's full state at finish time, for SET-OPERATION consumers
  * (θ-sketch algebra): the kept hashes (flipped, ascending), the flipped
  * exclusive admission bound θ, and whether the kept set is the COMPLETE
  * distinct hash set (never trimmed — every derived set operation is then
  * exact, not an estimate).
  */
case class KmvSet(n: Long, theta: Long, hashes: Array[Long], exact: Boolean)

/** The pool operations, shared by the typed [[Aggregator]] family below
  * and the native Catalyst [[KmvNdv]] aggregate (the optimizer-rewrite
  * consumer): one algorithm, two aggregation surfaces.
  */
private[graft] object KmvCore {

  def zero: KmvBuf = KmvBuf(0, Long.MaxValue, Array.emptyLongArray)

  def compact(b: KmvBuf, k: Int): KmvBuf = {
    java.util.Arrays.sort(b.arr, 0, b.n)
    var w = 0
    var r = 0
    while (r < b.n) { // in-place dedup of the sorted prefix
      if (w == 0 || b.arr(r) != b.arr(w - 1)) { b.arr(w) = b.arr(r); w += 1 }
      r += 1
    }
    if (w > k) KmvBuf(k, b.arr(k - 1), b.arr)
    else KmvBuf(w, b.theta, b.arr)
  }

  private def append(b: KmvBuf, f: Long, k: Int): KmvBuf = {
    val cap = 2 * k
    // grow the pool PROGRESSIVELY (64 → ×2 → cap), never upfront: the
    // buffer encoder serializes the WHOLE array, so an upfront 2k-long
    // pool made every low-cardinality group ship 16 KB·k/8192 of zeros
    // per serialization boundary — in sw6's streaming state that was
    // ~131 KB per (window × micro-batch) for ~140 users (round-15
    // find). Groups that genuinely reach cap keep the full pool.
    val buf =
      if (b.arr.length == 0) b.copy(arr = new Array[Long](math.min(64, cap)))
      else if (b.n == b.arr.length && b.arr.length < cap)
        b.copy(arr = java.util.Arrays.copyOf(b.arr, math.min(b.arr.length * 2L, cap.toLong).toInt))
      else b
    buf.arr(buf.n) = f
    val grown = buf.copy(n = buf.n + 1)
    if (grown.n == cap) compact(grown, k) else grown
  }

  /** Admit one RAW (unflipped) 64-bit hash. */
  def add(b: KmvBuf, h: Long, k: Int): KmvBuf = {
    val f = h ^ Long.MinValue
    if (f >= b.theta) b else append(b, f, k)
  }

  /** Admit one already-FLIPPED hash (a kept-set member from another
    * sketch's state) — [[KmvMergeNdv]]'s state-fold path. The caller
    * must have adopted the source state's theta into `b` first, or
    * hashes the source had already closed the door on would re-enter.
    * INCLUSIVE bound, unlike [[add]]'s exclusive one: a trimmed state's
    * theta IS its k-th minimum, which is a kept MEMBER — filtering it
    * out would strand the merged pool at k−1 hashes. (f == theta from
    * the buffer's own trim is a duplicate of an existing member; the
    * compaction dedup absorbs it.)
    */
  def addFlipped(b: KmvBuf, f: Long, k: Int): KmvBuf =
    if (f > b.theta) b else append(b, f, k)

  def merge(x: KmvBuf, y: KmvBuf, k: Int): KmvBuf = {
    // k smallest distinct of (X ∪ Y) ⊆ x.kept ∪ y.kept, so pooling the
    // two kept sets and re-compacting is the exact union sketch
    val cx = compact(x, k)
    val cy = compact(y, k)
    if (cy.n == 0) cx
    else if (cx.n == 0) cy
    else {
      // exact-size pool (same serialization-bloat reasoning as append's
      // progressive growth); a later append grows it if needed
      val pool = new Array[Long](cx.n + cy.n)
      System.arraycopy(cx.arr, 0, pool, 0, cx.n)
      System.arraycopy(cy.arr, 0, pool, cx.n, cy.n)
      compact(KmvBuf(cx.n + cy.n, math.min(cx.theta, cy.theta), pool), k)
    }
  }

  /** NDV from a COMPACTED buffer: exact while theta is still open
    * (never trimmed — the kept set is the WHOLE distinct set; gating on
    * n < k instead would push the exactly-k-distinct case through the
    * estimator even though the sketch never dropped a hash), else the
    * (k-1)/R bottom-k estimate.
    */
  def estimate(c: KmvBuf, k: Int): Long =
    if (c.theta == Long.MaxValue) c.n.toLong
    else {
      // R = k-th minimum as a fraction of the unsigned 64-bit space
      val raw = c.arr(k - 1) ^ Long.MinValue // unflip to the real hash
      val r = ((raw >>> 1).toDouble * 2.0 + (raw & 1L)) / math.pow(2.0, 64)
      math.round((k - 1).toDouble / r)
    }
}

abstract class KmvAggBase[OUT](k: Int) extends Aggregator[Option[Long], KmvBuf, OUT] {

  override def zero: KmvBuf = KmvCore.zero

  override def reduce(b: KmvBuf, in: Option[Long]): KmvBuf = in match {
    case None => b
    case Some(h) => KmvCore.add(b, h, k)
  }

  override def merge(x: KmvBuf, y: KmvBuf): KmvBuf = KmvCore.merge(x, y, k)

  override def bufferEncoder: Encoder[KmvBuf] = ExpressionEncoder()

  /** Compacted final state, shared by the concrete finishers. */
  protected final def finalState(b: KmvBuf): KmvBuf = KmvCore.compact(b, k)
  protected final def kk: Int = k
}

class KmvNdvAgg(k: Int) extends KmvAggBase[Long](k) {
  override def finish(b: KmvBuf): Long = KmvCore.estimate(finalState(b), kk)
  override def outputEncoder: Encoder[Long] = ExpressionEncoder()
}

/** Set-returning variant: the kept hash set itself, for θ-sketch set
  * operations downstream (intersection/union cardinalities across
  * groups). `exact` is true iff the sketch never trimmed — the kept set
  * is then the complete distinct hash set and every derived count is
  * exact. The array is ascending in the flipped (unsigned) order and
  * duplicate-free.
  */
class KmvSetAgg(k: Int) extends KmvAggBase[KmvSet](k) {
  override def finish(b: KmvBuf): KmvSet = {
    val c = finalState(b)
    KmvSet(c.n.toLong, c.theta, c.arr.take(c.n), c.theta == Long.MaxValue)
  }
  override def outputEncoder: Encoder[KmvSet] = ExpressionEncoder()
}

object NdvSketch {
  val DefaultK = 8192

  /** NDV estimate of `c` (null-ignoring, like COUNT(DISTINCT c)): exact
    * below k distinct, ±1.1% (1 sigma) above it at the default k.
    * Hashing happens in codegen (xxhash64); only the 8-byte hash enters
    * the aggregator. xxhash64 maps a NULL input to the unchanged seed —
    * a real value — so nulls are masked to NULL *before* hashing.
    */
  def ndvSketch(c: Column, k: Int = DefaultK): Column =
    // the NATIVE TypedImperativeAggregate (r18 opt) — same KmvCore, same
    // masked-hash child, bit-identical state and estimate as the typed
    // KmvNdvAgg spelling (NdvSketchSpec pins the equality), but the
    // update path evals one codegen'd child expression per row instead
    // of round-tripping Option[Long] through a ScalaAggregator's
    // ExpressionEncoder. dq11's 11-sketch single-pass profile measured
    // 2.1 s → 1.2 s at sf0.1 on this change alone.
    org.apache.spark.sql.GraftShims.column(
      KmvNdv(org.apache.spark.sql.GraftShims.expression(
        when(c.isNotNull, xxhash64(c))), k).toAggregateExpression())

  /** The kept hash SET of `c` (null-ignoring) as a [[KmvSet]] struct —
    * feed to θ-sketch set operations (intersection/union cardinality
    * across groups). Same hashing and admission as [[ndvSketch]], so a
    * value kept by one group's sketch hashes identically in another's.
    */
  def ndvSketchSet(c: Column, k: Int = DefaultK): Column =
    udaf(new KmvSetAgg(k)).apply(when(c.isNotNull, xxhash64(c)))

  /** Union-NDV of already-built [[KmvSet]] state structs — the sketch
    * CUBE's re-aggregation path (see [[KmvMergeNdv]] for why the state,
    * not the bare hashes, must flow: exactness gates on θ = min(θᵢ)).
    * Same k as the inputs, or the merged trim bound is wrong.
    */
  def ndvMergeSets(sk: Column, k: Int): Column =
    org.apache.spark.sql.GraftShims.column(
      KmvMergeNdv(org.apache.spark.sql.GraftShims.expression(sk), k)
        .toAggregateExpression())
}
