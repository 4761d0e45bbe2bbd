package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Mergeable quantile sketch — a q-digest (Shrivastava et al., the
  * deterministic member of the GK/KLL family) as a typed Aggregator:
  * the latency-SLO / percentile-monitor operator every 100 TB pipeline
  * runs, with the same cube-rollup contract as [[NdvSketch]] (dq16)
  * and [[SampleSketch]] (dq17).
  *
  * Why q-digest and not KLL or GK: KLL samples (randomness has no
  * cross-engine twin and breaks the house determinism rule), and GK
  * summaries are merge-ORDER-sensitive in shape. A q-digest is a pure
  * count structure over a fixed binary partition of the value universe
  * [0, 2^L): nodes of the implicit tree carry counts, and compression
  * folds any family whose total ≤ ⌊n/k⌋ into its parent. Every step is
  * deterministic arithmetic; what varies with partitioning is only
  * WHERE counts sit in the tree, which the rank-error guarantee
  * absorbs: a quantile answer's true rank is within εn of the request,
  * ε = L/k, and the guarantee survives merging (counts add, the
  * threshold re-derives from the merged n). Gates therefore pin the
  * CONTRACT (rank windows, dq15's pattern), never the raw answers.
  *
  * Hot-loop shape (this is a per-row aggregate over the whole fact
  * table): `reduce` appends the clamped value to a primitive-backed
  * pending buffer — no per-row node objects, no tree ops — and every
  * 2k values the buffer flushes: one `long[]` sort, a run-length pass
  * into leaf nodes, a linear merge with the (id-descending) compressed
  * node array, and one array-based level sweep for the folds. The
  * original TreeMap-per-compression spelling measured ~0.5 µs/row on
  * the 60M-row sf10 probe; the array path is the reason the digest
  * build keeps up with a plain hash aggregate.
  *
  * Scale shape: state is O(k) nodes + ≤ 2k pending values per group
  * regardless of row count (compression enforces count(family) >
  * ⌊n/k⌋ for surviving non-roots, so at most ~3k nodes survive);
  * map-side partials compress before the shuffle, so a 100 TB scan
  * ships kilobytes per (group × partition). Values clamp into
  * [0, 2^L) — callers quantize to nonneg integers first (the house
  * cents convention).
  */
case class QdNode(id: Long, c: Long)
// collection.Seq (not the 2.13 immutable default) so the hot loop can
// keep an ArrayBuffer in place between rows; Spark's reflection
// round-trips it fine
case class QdBuf(nodes: scala.collection.Seq[QdNode], pending: scala.collection.Seq[Long])

private[graft] object QdCore {
  /** Universe is [0, 2^L); leaves sit at level L, the root at level 0.
    * Node ids are heap-numbered: level(id) = floor(log2 id), and id at
    * level lv covers [(id − 2^lv)·2^(L−lv), (id − 2^lv + 1)·2^(L−lv)).
    */
  val L = 24
  val Universe: Long = 1L << L

  def level(id: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(id)

  def maxEnd(id: Long): Long = {
    val lv = level(id)
    ((id - (1L << lv) + 1) << (L - lv)) - 1
  }

  def clamp(v: Long): Long = math.min(math.max(v, 0L), Universe - 1)

  def zero: QdBuf = QdBuf(Vector.empty, ArrayBuffer.empty[Long])

  /** Raw insert: append-only until the pending buffer reaches 2k, then
    * one normalize. The buffer is mutated in place when it is already
    * this JVM's ArrayBuffer (the ObjectHashAggregate steady state) and
    * copied once when it arrived immutable from a deserialized partial.
    */
  def add(b: QdBuf, v: Long, k: Int): QdBuf = {
    val p = b.pending match {
      case ab: ArrayBuffer[Long @unchecked] => ab
      case other => ArrayBuffer.from(other)
    }
    p += clamp(v)
    if (p.length >= 2 * k) QdBuf(normalize(b.nodes, p, k), ArrayBuffer.empty[Long])
    else if (p.asInstanceOf[AnyRef] eq b.pending.asInstanceOf[AnyRef]) b
    else QdBuf(b.nodes, p)
  }

  def merge(x: QdBuf, y: QdBuf, k: Int): QdBuf =
    QdBuf(normalize(x.nodes ++ y.nodes, x.pending ++ y.pending, k),
      ArrayBuffer.empty[Long])

  /** Canonical compressed node array (id-DESCENDING) from arbitrary
    * nodes + raw values: sort/RLE the raw values into leaves, merge the
    * two id-sorted streams summing duplicates, then fold level by level
    * (deepest first) — any family (two children + parent) totalling ≤
    * ⌊n/k⌋ folds into the parent. Children at one level are processed
    * in descending id order, so promoted parents emerge in descending
    * order too and a single co-scan splices them into the next level.
    * Deterministic: a pure function of the (nodes, values) multiset.
    */
  def normalize(nodes: scala.collection.Seq[QdNode],
      pending: scala.collection.Seq[Long], k: Int): Vector[QdNode] = {
    // pending → DESC leaf nodes via primitive sort + RLE
    val pa = new Array[Long](pending.size)
    var pi = 0
    pending.foreach { v => pa(pi) = v; pi += 1 }
    java.util.Arrays.sort(pa)
    val leaves = new ArrayBuffer[QdNode]
    var i = pa.length - 1
    while (i >= 0) {
      val v = pa(i)
      var c = 1L
      i -= 1
      while (i >= 0 && pa(i) == v) { c += 1; i -= 1 }
      leaves += QdNode(Universe + v, c)
    }
    // existing nodes → DESC, then linear merge with leaves summing dups
    val na = nodes.filter(_.c > 0).toArray
    java.util.Arrays.sort(na, (a: QdNode, b: QdNode) => java.lang.Long.compare(b.id, a.id))
    val merged = new ArrayBuffer[QdNode](na.length + leaves.length)
    var ai = 0
    var li = 0
    var n = 0L
    while (ai < na.length || li < leaves.length) {
      val nxt =
        if (li >= leaves.length || (ai < na.length && na(ai).id >= leaves(li).id)) {
          val h = na(ai); ai += 1; h
        } else { val h = leaves(li); li += 1; h }
      n += nxt.c
      if (merged.nonEmpty && merged.last.id == nxt.id)
        merged(merged.length - 1) = QdNode(nxt.id, merged.last.c + nxt.c)
      else merged += nxt
    }
    val thr = n / k
    if (thr <= 0) return merged.toVector
    val out = new ArrayBuffer[QdNode](merged.length)
    var remaining = merged
    var lv = L
    while (lv >= 1) {
      val bound = 1L << lv
      // remaining's max level is lv by induction, so the level-lv
      // segment is exactly the prefix with id >= 2^lv
      var split = 0
      while (split < remaining.length && remaining(split).id >= bound) split += 1
      if (split > 0) {
        val newTail = new ArrayBuffer[QdNode](remaining.length)
        var ti = split
        var si = 0
        while (si < split) {
          val a = remaining(si)
          val hasSib = si + 1 < split && remaining(si + 1).id == (a.id ^ 1L)
          val kids = a.c + (if (hasSib) remaining(si + 1).c else 0L)
          val p = a.id >> 1
          while (ti < remaining.length && remaining(ti).id > p) {
            newTail += remaining(ti); ti += 1
          }
          val hasParent = ti < remaining.length && remaining(ti).id == p
          val pc = if (hasParent) remaining(ti).c else 0L
          if (kids + pc <= thr) {
            if (hasParent) ti += 1 // parent absorbed the fold
            newTail += QdNode(p, kids + pc)
          } else {
            out += a
            if (hasSib) out += remaining(si + 1)
          }
          si += (if (hasSib) 2 else 1)
        }
        while (ti < remaining.length) { newTail += remaining(ti); ti += 1 }
        remaining = newTail
      }
      lv -= 1
    }
    out ++= remaining // what reached the root level unfolded
    out.toVector
  }

  /** Rank-r (1-based) query: sweep nodes in value order (max endpoint
    * ascending, deeper node first on ties), accumulate counts, answer
    * the first node whose cumulative count reaches r. The answer's
    * true rank is within εn of r, ε = L/k.
    */
  def quantile(items: scala.collection.Seq[QdNode], r: Long): Long = {
    val sorted = items.sortBy(it => (maxEnd(it.id), -level(it.id)))
    var cum = 0L
    var i = 0
    while (i < sorted.length) {
      cum += sorted(i).c
      if (cum >= r) return maxEnd(sorted(i).id)
      i += 1
    }
    if (sorted.nonEmpty) maxEnd(sorted.last.id) else 0L
  }

  def answers(items: scala.collection.Seq[QdNode], psMilli: Seq[Int]): Seq[Long] = {
    val n = items.map(_.c).sum
    psMilli.map { p =>
      val r = math.max(1L, n * p / 1000L)
      quantile(items, r)
    }
  }
}

/** Build a digest from values; emits the STATE (the wire format the
  * rollup path re-aggregates).
  */
class QdAgg(k: Int) extends Aggregator[Option[Long], QdBuf, Seq[QdNode]] {
  override def zero: QdBuf = QdCore.zero
  override def reduce(b: QdBuf, in: Option[Long]): QdBuf =
    in.fold(b)(v => QdCore.add(b, v, k))
  override def merge(x: QdBuf, y: QdBuf): QdBuf = QdCore.merge(x, y, k)
  override def finish(b: QdBuf): Seq[QdNode] = QdCore.normalize(b.nodes, b.pending, k)
  override def bufferEncoder: Encoder[QdBuf] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[QdNode]] = ExpressionEncoder()
}

/** Build a digest from values; emits quantile ANSWERS at the fixed
  * milli-percentiles (the monitor shape — no state leaves the group).
  */
class QdAnswersAgg(k: Int, psMilli: Seq[Int])
    extends Aggregator[Option[Long], QdBuf, Seq[Long]] {
  override def zero: QdBuf = QdCore.zero
  override def reduce(b: QdBuf, in: Option[Long]): QdBuf =
    in.fold(b)(v => QdCore.add(b, v, k))
  override def merge(x: QdBuf, y: QdBuf): QdBuf = QdCore.merge(x, y, k)
  override def finish(b: QdBuf): Seq[Long] =
    QdCore.answers(QdCore.normalize(b.nodes, b.pending, k), psMilli)
  override def bufferEncoder: Encoder[QdBuf] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
}

/** Merge already-built digest states up the cube and answer — the
  * rollup path: fine-grain states in, coarse-grain answers out, base
  * rows never re-read.
  */
class QdMergeAnswersAgg(k: Int, psMilli: Seq[Int])
    extends Aggregator[Seq[QdNode], QdBuf, Seq[Long]] {
  override def zero: QdBuf = QdCore.zero
  // append incoming states into the node buffer and normalize on a size
  // threshold, NOT per input row (r16 review #4: a per-state normalize
  // is O(k log k) × G for G fine-grain states — the amortized buffer is
  // the same trade the value path makes with pending, and normalize is
  // a pure function of the node multiset so the answers are identical)
  override def reduce(b: QdBuf, in: Seq[QdNode]): QdBuf = {
    if (in == null) return b
    val nb = b.nodes match {
      case ab: ArrayBuffer[QdNode @unchecked] => ab
      case other => ArrayBuffer.from(other)
    }
    nb ++= in
    if (nb.length >= 8 * k)
      QdBuf(QdCore.normalize(nb, Nil, k), ArrayBuffer.empty[Long])
    else if (nb.asInstanceOf[AnyRef] eq b.nodes.asInstanceOf[AnyRef]) b
    else QdBuf(nb, b.pending)
  }
  override def merge(x: QdBuf, y: QdBuf): QdBuf = QdCore.merge(x, y, k)
  override def finish(b: QdBuf): Seq[Long] =
    QdCore.answers(QdCore.normalize(b.nodes, b.pending, k), psMilli)
  override def bufferEncoder: Encoder[QdBuf] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
}

object QdigestSketch {
  val DefaultK = 2048 // ε = L/k ≈ 1.2% rank error

  /** The house quantize-and-clamp: money/value column → cents, clamped
    * into the digest universe. One definition shared by every gate that
    * feeds a digest (dq19, sw17) AND by their exact-rank audits — a
    * clamp that diverged between the sketch input and the audit's base
    * column would shift ranks near the universe edges (r16 review #5).
    */
  /** Universe-clamped integer cents, NULL-PRESERVING (r16 ADVICE): a
    * NULL input must stay NULL so the digest's Option-skipping reduce
    * EXCLUDES it — `greatest(NULL, 0)` silently skips the null and
    * would smuggle every NULL in as 0 cents, counting absent
    * measurements as zero-latency events. Rank audits must size n from
    * `count(<this column>)` (non-null), never `count(*)`, so the audit
    * denominator equals what the digest actually ingested.
    */
  def clampedCents(valueExpr: String): Column =
    org.apache.spark.sql.functions.expr(
      s"IF(($valueExpr) IS NULL, CAST(NULL AS BIGINT), " +
        s"least(greatest(CAST(round(($valueExpr) * 100) AS BIGINT), 0L), " +
        s"${QdCore.Universe - 1}L))")

  def qdSet(value: Column, k: Int = DefaultK): Column =
    udaf(new QdAgg(k)).apply(value)

  def qdAnswers(value: Column, psMilli: Seq[Int], k: Int = DefaultK): Column =
    udaf(new QdAnswersAgg(k, psMilli)).apply(value)

  def qdMergeAnswers(state: Column, psMilli: Seq[Int], k: Int = DefaultK): Column =
    udaf(new QdMergeAnswersAgg(k, psMilli)).apply(state)
}
