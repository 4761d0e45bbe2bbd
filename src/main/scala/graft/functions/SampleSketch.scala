package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Deterministic mergeable uniform sample — bottom-k rows by a
  * content hash (the sampling twin of [[NdvSketch]]'s KMV set): keep
  * the k rows whose md5-of-key sorts smallest. Because md5 is a fixed
  * function of the key, the kept multiset is a pure function of the
  * DATA — independent of partition count, row order and merge
  * topology — and, unlike a seeded reservoir, bit-reproducible across
  * engines (DuckDB computes the identical sample with a window
  * `row_number() OVER (ORDER BY md5...)`; the gate hashes the two
  * against each other).
  *
  * EXACT mergeability, the property the dq17 rollup gate pins: for
  * multisets, bottomK(X ∪ Y) ⊆ bottomK(X) ∪ bottomK(Y), so pooling
  * two kept sets and re-trimming IS the union's sample — a sketch
  * cube can roll fine-grain samples up to coarse grain without
  * re-reading rows, and the result equals the directly-built sample
  * EXACTLY, not approximately. No admission bound is needed (KMV's θ
  * exists to dedup across sketches; a sample keeps duplicates —
  * distinct rows colliding in hash are distinct observations).
  *
  * Scale shape: state is ≤ 2k (hash, value) pairs per group no matter
  * how many rows stream through; map-side partials trim before the
  * shuffle, so a 100 TB scan ships kilobytes per (group × partition).
  * Items order by (hash, value) — a total order, so ties at the trim
  * boundary resolve identically everywhere.
  */
case class SampItem(h: String, v: Long)
case class SampBuf(items: Seq[SampItem])

private[graft] object SampCore {
  private val ord: Ordering[SampItem] = Ordering.by(i => (i.h, i.v))

  def zero: SampBuf = SampBuf(Vector.empty)

  def trim(b: SampBuf, k: Int): SampBuf =
    if (b.items.lengthCompare(k) <= 0) SampBuf(b.items.sorted(ord))
    else SampBuf(b.items.sorted(ord).take(k))

  def add(b: SampBuf, h: String, v: Long, k: Int): SampBuf = {
    val grown = SampBuf(b.items :+ SampItem(h, v))
    if (grown.items.lengthCompare(2 * k) >= 0) trim(grown, k) else grown
  }

  def merge(x: SampBuf, y: SampBuf, k: Int): SampBuf =
    trim(SampBuf(x.items ++ y.items), k)
}

class SampleAgg(k: Int) extends Aggregator[(Option[String], Option[Long]), SampBuf, Seq[SampItem]] {
  override def zero: SampBuf = SampCore.zero
  override def reduce(b: SampBuf, in: (Option[String], Option[Long])): SampBuf = in match {
    case (Some(h), Some(v)) => SampCore.add(b, h, v, k)
    case _ => b // null key or value: not sampleable, like COUNT(c)'s null rule
  }
  override def merge(x: SampBuf, y: SampBuf): SampBuf = SampCore.merge(x, y, k)
  override def finish(b: SampBuf): Seq[SampItem] = SampCore.trim(b, k).items
  override def bufferEncoder: Encoder[SampBuf] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[SampItem]] = ExpressionEncoder()
}

/** State-merging variant — re-aggregates already-built samples (rows of
  * `array<struct<h,v>>`) up the cube without touching base rows.
  */
class SampleMergeAgg(k: Int) extends Aggregator[Seq[SampItem], SampBuf, Seq[SampItem]] {
  override def zero: SampBuf = SampCore.zero
  override def reduce(b: SampBuf, in: Seq[SampItem]): SampBuf =
    SampCore.merge(b, SampBuf(if (in == null) Vector.empty else in), k)
  override def merge(x: SampBuf, y: SampBuf): SampBuf = SampCore.merge(x, y, k)
  override def finish(b: SampBuf): Seq[SampItem] = SampCore.trim(b, k).items
  override def bufferEncoder: Encoder[SampBuf] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[SampItem]] = ExpressionEncoder()
}

object SampleSketch {
  /** Bottom-k sample of (hash, value) rows; `hash` should be a
    * cross-engine-stable string (md5 of the row key, the house
    * convention). Null hash or value rows are skipped.
    */
  def sampleSet(hash: Column, value: Column, k: Int): Column =
    udaf(new SampleAgg(k)).apply(hash, value)

  /** Merge already-built samples (the rollup path). Same k as the
    * inputs, or the trim bound differs from a directly-built sample.
    */
  def sampleMergeSets(sk: Column, k: Int): Column =
    udaf(new SampleMergeAgg(k)).apply(sk)
}
