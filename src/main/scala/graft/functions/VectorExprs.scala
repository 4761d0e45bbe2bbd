package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.{CdcSegments, LongDot, LongSquaredL2, MinHashSigs, NgramMd5, SimHash64, UnicodeNormalize}

/** Column-API and SQL-name surfaces for the codegen vector kernels
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

  /** Probe a driver-built `util.sketch.BloomFilter` (serialized bytes).
    * Not in the SQL-name registry: the filter bytes aren't expressible
    * as a SQL literal users should type.
    */
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

  /** Name, `DESCRIBE FUNCTION` info naming the expression class, builder. */
  private def fn[E <: Expression](name: String)(build: Seq[Expression] => E)(
      implicit ct: ClassTag[E]): SparkSessionExtensions#FunctionDescription =
    (FunctionIdentifier(name), new ExpressionInfo(ct.runtimeClass.getName, name), build)

  /** The SQL-name surface, read by both registration routes:
    * [[register]] and [[GraftExtensions]].
    */
  val registry: Seq[SparkSessionExtensions#FunctionDescription] = Seq(
    fn("long_dot")(es => LongDot(es(0), es(1))),
    fn("long_sq_l2")(es => LongSquaredL2(es(0), es(1))),
    fn("simhash64")(es => SimHash64(es(0))),
    fn("minhash_sigs")(es => MinHashSigs(es(0), foldableK(es(1), "minhash_sigs"))),
    fn("ngram_md5")(es => NgramMd5(es(0), foldableK(es(1), "ngram_md5"))),
    fn("cdc_segments")(es => CdcSegments(es(0), foldableK(es(1), "cdc_segments"))),
    fn("unicode_normalize")(es => UnicodeNormalize(es(0), foldableForm(es(1), "unicode_normalize"))),
    fn("deflated_len")(es => org.apache.spark.sql.graft.DeflatedLen(es(0))),
    fn("luhn_scan")(es => org.apache.spark.sql.graft.LuhnScan(es(0),
      foldableK(es(1), "luhn_scan"), foldableK(es(2), "luhn_scan"),
      foldableStr(es(3), "luhn_scan"))))

  /** The SQL surface needs k/n at plan-construction time (it sizes the
    * kernel): accept any integer literal, reject the rest with an error
    * naming the offending function instead of a ClassCastException.
    */
  private def foldableK(e: Expression, fn: String): Int = e match {
    case Literal(v: java.lang.Number, _) if v != null => v.intValue()
    case other => throw new IllegalArgumentException(
      s"$fn: the k/n argument must be an integer literal (it sizes the kernel at plan time), got $other")
  }

  /** String-literal sibling of [[foldableK]]: any plan-time string
    * constant (a normalization form, luhn_scan's mask token); `what`
    * names the argument in the refusal.
    */
  private def foldableStr(e: Expression, fn: String,
      what: String = "argument (a plan-time constant)"): String = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) if s != null => s.toString
    case other => throw new IllegalArgumentException(
      s"$fn: the $what must be a string literal, got $other")
  }

  private def foldableForm(e: Expression, fn: String): String =
    foldableStr(e, fn, "form argument (NFC/NFD/NFKC/NFKD)")

  /** Runtime registration (for sessions we did not build, e.g. the
    * driver's): makes the kernels callable from SQL text.
    */
  def register(spark: SparkSession): Unit =
    registry.foreach { case (id, _, builder) =>
      GraftShims.registerFunction(spark, id.funcName, builder)
    }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` — the
  * production injection route for sessions built by spark-submit:
  * every [[graft.plans.GraftRules]] rule and strategy and every
  * [[VectorFunctions.registry]] function.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.plans.GraftRules.optimizerRules.foreach(r => ext.injectOptimizerRule(_ => r))
    graft.plans.GraftRules.strategies.foreach(st => ext.injectPlannerStrategy(_ => st))
    VectorFunctions.registry.foreach(ext.injectFunction)
  }
}
