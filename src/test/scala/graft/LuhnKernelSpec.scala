package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions

/** The LuhnScan kernel (red2's detect+validate+mask byte pass) against
  * an independent regex+functional model, canonical checksum pins, the
  * length guards and null safety.
  */
class LuhnKernelSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  // independent model: regex run-finder + functional Luhn (zipWithIndex
  // over the reversed digits) — structurally unlike the kernel's single
  // byte scan, so agreement is evidence, not tautology
  private def modelLuhn(run: String): Boolean =
    run.reverse.map(_ - '0').zipWithIndex.map { case (d, i) =>
      if (i % 2 == 1) { val t = d * 2; if (t > 9) t - 9 else t } else d
    }.sum % 10 == 0

  private def modelScan(s: String, min: Int, max: Int, mask: String): (Int, Int, String) = {
    var cand = 0
    var valid = 0
    val masked = "[0-9]+".r.replaceAllIn(s, m => {
      val r = m.matched
      if (r.length >= min && r.length <= max) {
        cand += 1
        if (modelLuhn(r)) { valid += 1; mask } else r
      } else r
    })
    (cand, valid, masked)
  }

  private def kernelScan(s: String, min: Int, max: Int, mask: String): (Int, Int, String) = {
    val r = Seq(s).toDF("t")
      .select(VectorFunctions.luhnScan($"t", min, max, mask).as("x"))
      .select($"x.candidates", $"x.valid", $"x.masked").head()
    (r.getInt(0), r.getInt(1), r.getString(2))
  }

  test("canonical checksum pins") {
    // 79927398713 is the textbook Luhn-valid example; flipping the
    // check digit must invalidate it; the all-zero run sums to 0 (valid)
    assert(kernelScan("79927398713", 11, 11, "<X>") === ((1, 1, "<X>")))
    assert(kernelScan("79927398710", 11, 11, "<X>") === ((1, 0, "79927398710")))
    assert(kernelScan("0000000000000000", 16, 16, "<X>") === ((1, 1, "<X>")))
  }

  test("length guards: out-of-range runs pass through uncounted") {
    val s = "id 123 card 79927398713 trace 12345678901234567890"
    // [11,19]: the 3-digit and 20-digit runs are not candidates
    assert(kernelScan(s, 11, 19, "<X>") ===
      ((1, 1, "id 123 card <X> trace 12345678901234567890")))
    // [1,30]: every run is a candidate; only the card validates
    val (c, v, _) = kernelScan(s, 1, 30, "<X>")
    assert(c == 3 && v == 1)
  }

  test("kernel equals the regex+functional model on randomized inputs") {
    val rnd = new scala.util.Random(4242)
    val pieces = Array("a", "zz", " ", "-", "é¥", "@")
    val strings = (1 to 200).map { _ =>
      (1 to rnd.nextInt(8)).map { _ =>
        if (rnd.nextBoolean()) pieces(rnd.nextInt(pieces.length))
        else (1 to (1 + rnd.nextInt(22))).map(_ => rnd.nextInt(10)).mkString
      }.mkString
    }
    for (s <- strings) {
      val got = kernelScan(s, 13, 19, "<CARD>")
      val want = modelScan(s, 13, 19, "<CARD>")
      assert(got === want, s"input: '$s'")
    }
  }

  test("null propagates, empty string scans clean") {
    val out = Seq(Some("x 79927398713"), None).toDF("t")
      .select(VectorFunctions.luhnScan($"t", 11, 11, "<X>").as("x"))
      .collect()
    assert(out.exists(r => !r.isNullAt(0)) && out.exists(_.isNullAt(0)))
    assert(kernelScan("", 13, 19, "<X>") === ((0, 0, "")))
  }

  test("interpreted eval agrees with the codegen DataFrame path") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val s = "pay 79927398713 or 123"
    val e = org.apache.spark.sql.graft.LuhnScan(
      BoundReference(0, StringType, nullable = true), 11, 11, "<X>")
    val row = e.eval(InternalRow(UTF8String.fromString(s)))
      .asInstanceOf[InternalRow]
    assert((row.getInt(0), row.getInt(1), row.getUTF8String(2).toString) ===
      kernelScan(s, 11, 11, "<X>"))
    assert(Literal("x").dataType === StringType) // anchor the imports
  }

}
