package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for tx19 (conditional bigram-LM surprise) and dq15
  * (approx-quantile contract audit).
  *
  * tx19's gate hash proves Spark ≡ DuckDB on the fixture corpus; this
  * pin proves the FORMULA — cost = (c(h·)+V)·1000 DIV (c(hw)+1),
  * doc score = Σcost DIV n — against hand-computed values on a 3-doc
  * corpus, so a drift in history counting (per-occurrence vs
  * per-distinct), smoothing, or the DIV convention is caught with
  * numbers a reviewer can re-derive on paper.
  *
  * dq15's flag could in principle be vacuously TRUE if the rank window
  * were too loose; the second pin shows the same integer bound math
  * REJECTS a quantile planted 50 milli-ranks off (25× the allowed ±2),
  * while accepting the true one.
  */
class LmSurpriseSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("tx19: hand-computed add-1 conditional surprise on a 3-doc corpus") {
    val s = SparkEntry.configure(spark.newSession())
    import s.implicits._
    val dir = Scratch.root(s, "tx19_pin", java.util.UUID.randomUUID().toString.take(8))
    // V = {a,b,c} = 3; bigram counts: "a b"->3, "a c"->1, "b a"->1;
    // history counts: a->4, b->1.
    // costs: "a b" = (4+3)*1000 DIV 4 = 1750; "a c" = 7000 DIV 2 = 3500;
    //        "b a" = (1+3)*1000 DIV 2 = 2000.
    // doc1 ("a b") -> 1750; doc2 ("a c") -> 3500;
    // doc3 ("a b a b": a b, b a, a b) -> (1750+2000+1750) DIV 3 = 1833.
    Seq((1L, "a b"), (2L, "a c"), (3L, "a b a b"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("tx19_conditional_surprise")(s, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 1L, 1750L), (2L, 1L, 3500L), (3L, 3L, 1833L)),
      s"surprise drifted from the hand computation: $out")
  }

  test("dq15: the rank bound rejects a quantile planted 50 milli-ranks off") {
    val s = SparkEntry.configure(spark.newSession())
    val dir = "/root/testdata/sf0.01"
    val pc = Tables(s, dir, "lineitem")
      .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("pc"))
    val n = pc.count()
    val sorted = pc.orderBy("pc").collect().map(_.getLong(0))
    def flag(a: Long, pMilli: Long): Boolean = {
      val rLe = sorted.count(_ <= a).toLong
      val rLt = sorted.count(_ < a).toLong
      rLe >= n * (pMilli - 2) / 1000 && rLt <= n * (pMilli + 2) / 1000 + 1
    }
    val trueMedian = sorted(((n - 1) / 2).toInt)
    val planted = sorted((n * 55 / 100).toInt) // value at p=0.55
    assert(flag(trueMedian, 500L), "true median must pass the bound")
    assert(!flag(planted, 500L),
      "a value 50 milli-ranks off passed — the window is too loose to audit anything")
    // and the gate entry itself is green on the same data, flags all true
    val rows = SparkEntry.queries("dq15_approx_quantile_audit")(s, dir).collect()
    assert(rows.length == 6 && rows.forall(_.getBoolean(2)))
  }
}
