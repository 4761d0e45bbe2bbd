package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd distinct n-gram md5 set over a word array: one pass that
  * equals `array_distinct(transform(sequence(1, len−(n−1)),
  * i -> md5(array_join(slice(words, i, n), ' '))))` — the hashed-shingle
  * pipeline of the decontamination operator — without the interpreted
  * per-gram lambda dispatch, the intermediate joined strings, or the
  * post-hoc distinct pass.
  *
  * Per gram the digest input is the UTF-8 bytes of the words joined by a
  * single space, fed to MD5 incrementally (no concatenated string is
  * materialized). Null elements are SKIPPED along with their delimiter —
  * exactly `array_join`'s contract — so the kernel stays hash-identical
  * to the HOF spelling even for callers other than `split()` (any
  * `array<string>` column reaches it; inputs with nulls are reachable). Dedup
  * preserves first-occurrence order on the hex encoding, matching
  * Spark's `array_distinct`; element count below n yields an empty
  * array (callers filter those rows anyway, as the HOF spelling must
  * too — Spark's `sequence(1, 0)` would otherwise step BACKWARD). A
  * null array returns null via the null-safe wrapper.
  */
case class NgramMd5(child: Expression, n: Int) extends UnaryExpression with ExpectsInputTypes {
  require(n > 0, "n-gram width must be positive")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ngram_md5"

  override def nullSafeEval(input: Any): Any =
    NgramMd5.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = org.apache.spark.sql.graft.NgramMd5.compute($a, $n);")

  override protected def withNewChildInternal(newChild: Expression): NgramMd5 =
    copy(child = newChild)
}

object NgramMd5 {
  private val Space = Array(' '.toByte)

  /** Called from both interpreted eval and generated code. */
  def compute(words: ArrayData, n: Int): ArrayData = {
    val len = words.numElements()
    if (len < n) return new GenericArrayData(new Array[AnyRef](0))
    val md = Md5Util.md5()
    // UTF8String hashes by content — first-occurrence order preserved
    val seen = new java.util.LinkedHashSet[UTF8String]()
    // null stays null: array_join drops null elements AND their
    // delimiter, which "" would not reproduce ("" is a legal word)
    val bytes = new Array[Array[Byte]](len)
    var i = 0
    while (i < len) {
      bytes(i) = if (words.isNullAt(i)) null else words.getUTF8String(i).getBytes
      i += 1
    }
    var start = 0
    while (start <= len - n) {
      md.reset()
      var j = 0
      var emitted = false
      while (j < n) {
        val b = bytes(start + j)
        if (b != null) {
          if (emitted) md.update(Space)
          md.update(b)
          emitted = true
        }
        j += 1
      }
      seen.add(Md5Util.toHex(md.digest()))
      start += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }
}
