package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.graft.{CdcSegments, LongDot, LongSquaredL2, MinHashSigs, NgramMd5, SimHash64, UnicodeNormalize}

/** Column-API surface for the codegen vector kernels
  * (org.apache.spark.sql.graft.VectorKernels).
  */
object VectorFunctions {
  def longDot(a: Column, b: Column): Column =
    GraftShims.column(LongDot(GraftShims.expression(a), GraftShims.expression(b)))

  def longSquaredL2(a: Column, b: Column): Column =
    GraftShims.column(LongSquaredL2(GraftShims.expression(a), GraftShims.expression(b)))

  def simhash64(words: Column): Column =
    GraftShims.column(SimHash64(GraftShims.expression(words)))

  def minhashSigs(shingles: Column, k: Int): Column =
    GraftShims.column(MinHashSigs(GraftShims.expression(shingles), k))

  def ngramMd5(words: Column, n: Int): Column =
    GraftShims.column(NgramMd5(GraftShims.expression(words), n))

  def cdcSegments(words: Column, nibbles: Int): Column =
    GraftShims.column(CdcSegments(GraftShims.expression(words), nibbles))

  /** Unicode-normalize a string column (form ∈ NFC/NFD/NFKC/NFKD) —
    * codegen kernel with ASCII and already-normalized fast paths.
    */
  def unicodeNormalize(c: Column, form: String): Column =
    GraftShims.column(UnicodeNormalize(GraftShims.expression(c), form))

  /** DEFLATE-compressed byte count of a string (fixed level 6) — the
    * compression-ratio quality primitive (tx22).
    */
  def deflatedLen(c: Column): Column =
    GraftShims.column(org.apache.spark.sql.graft.DeflatedLen(GraftShims.expression(c)))

  /** |A∩B| of two SORTED, distinct string arrays — one codegen merge
    * pass, no intersection materialization (see SetKernels scaladoc).
    */
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftShims.column(org.apache.spark.sql.graft.SortedIntersectCount(
      GraftShims.expression(a), GraftShims.expression(b)))

  /** Long-array sibling of [[sortedIntersectCount]] (primitive merge). */
  def sortedLongIntersectCount(a: Column, b: Column): Column =
    GraftShims.column(org.apache.spark.sql.graft.SortedLongIntersectCount(
      GraftShims.expression(a), GraftShims.expression(b)))

  /** The intersecting VALUES (ascending) — g4's closing-vertex kernel. */
  def sortedLongIntersectValues(a: Column, b: Column): Column =
    GraftShims.column(org.apache.spark.sql.graft.SortedLongIntersectValues(
      GraftShims.expression(a), GraftShims.expression(b)))

  /** Checksum-validated PII scan: struct<candidates, valid, masked> of
    * Luhn-checked digit runs with length in [minLen, maxLen] — valid
    * runs masked, invalid left for audit (see LuhnKernel scaladoc).
    */
  def luhnScan(c: Column, minLen: Int, maxLen: Int, mask: String): Column =
    GraftShims.column(org.apache.spark.sql.graft.LuhnScan(
      GraftShims.expression(c), minLen, maxLen, mask))

  /** Probe a driver-built `util.sketch.BloomFilter` (serialized bytes). */
  def bloomMightContain(value: Column, bloomBytes: Array[Byte]): Column =
    GraftShims.column(
      org.apache.spark.sql.graft.BloomMightContain(GraftShims.expression(value),
        scala.collection.immutable.ArraySeq.unsafeWrapArray(bloomBytes)))

  /** Driver-side bloom build + serialization for [[bloomMightContain]]
    * probes — one helper so the sizing count and the wire format can't
    * drift between call sites (dd9 decontamination, bf1 semi join). The
    * sizing `count()` runs over the (pre-filtered, usually persisted)
    * build side; at production scale that number comes from table stats.
    */
  def bloomBytesOf(df: org.apache.spark.sql.DataFrame, colName: String,
      fpp: Double): Array[Byte] = {
    val bloom = df.stat.bloomFilter(colName, math.max(df.count(), 1L), fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }
}
