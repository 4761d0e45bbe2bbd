package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LogicalWindow, WindowGroupLimit}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.RowNumberDedupRewrite

/** Plan-shape and semantics pins for [[graft.plans.RowNumberDedupRewrite]]
  * (the `row_number() = 1` → `min_by` optimizer rule). Each test runs in
  * its own `newSession()` — `experimental.extraOptimizations` is
  * session-state, so installing/omitting the rule here cannot leak into
  * the other suites sharing the SparkContext.
  */
class OptimizerRuleSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  /** k ∈ [0,50); per k one NULL order key (from the first 50 ids) plus
    * unique ascending keys — exercises nulls-first selection, multi-column
    * payload extraction, and arbitrary group sizes.
    */
  private def idiom(s: SparkSession): DataFrame = {
    val base = s.range(1000).selectExpr(
      "id % 50 AS k",
      "CASE WHEN id < 50 THEN NULL ELSE id END AS ord",
      "id * 3 AS payload_a",
      "md5(CAST(id AS STRING)) AS payload_b")
    val w = Window.partitionBy("k").orderBy(col("ord").asc_nulls_first)
    base.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  private def hasWindow(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[LogicalWindow])

  test("rewrites the idiom: no Window in the optimized plan, min_by aggregate instead") {
    val s = spark.newSession()
    s.experimental.extraOptimizations = Seq(RowNumberDedupRewrite)
    val df = idiom(s)
    val opt = df.queryExecution.optimizedPlan
    assert(!opt.exists(_.isInstanceOf[LogicalWindow]), s"Window survived:\n$opt")
    // InferWindowGroupLimit (main batch, runs first) plants a
    // WindowGroupLimit below the Window; the rewrite must aggregate that
    // node's CHILD, or the group-limit's wide sort + full-input exchange
    // survives under a degenerate aggregate (r07 regression)
    assert(!opt.exists(_.isInstanceOf[WindowGroupLimit]),
      s"WindowGroupLimit survived:\n$opt")
    assert(opt.exists {
      case a: Aggregate => a.aggregateExpressions.exists(_.toString.contains("min_by"))
      case _ => false
    }, s"no min_by aggregate in:\n$opt")
    // partial aggregation must exist: the exchange carries pre-reduced
    // rows (the point of the rewrite), visible as two aggregate nodes
    val phys = df.queryExecution.executedPlan.toString
    assert("(?i)partial".r.findFirstIn(phys).isDefined,
      s"no partial aggregate stage in:\n$phys")
  }

  test("rewritten rows equal the un-rewritten window semantics (nulls-first pick)") {
    val plain = spark.newSession()
    assert(!plain.experimental.extraOptimizations.contains(RowNumberDedupRewrite))
    val ruled = spark.newSession()
    ruled.experimental.extraOptimizations = Seq(RowNumberDedupRewrite)
    assert(hasWindow(idiom(plain)) && !hasWindow(idiom(ruled)))
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.toString), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq
    val expect = rows(idiom(plain))
    assert(rows(idiom(ruled)) == expect)
    // and the picked row per k is the NULL-ordered one (ids 0..49 → k=id)
    expect.foreach { case (k, ord, pa, _) =>
      assert(ord.isEmpty && pa == k * 3, s"k=$k picked ($ord, $pa), not the null-ord row")
    }
  }

  test("does not fire on rank>1 filters, descending order, or global windows") {
    val s = spark.newSession()
    s.experimental.extraOptimizations = Seq(RowNumberDedupRewrite)
    val base = s.range(100).selectExpr("id % 10 AS k", "id AS v")
    val byK = Window.partitionBy("k").orderBy(col("v").asc_nulls_first)
    val rn2 = base.withColumn("rn", row_number().over(byK)).filter(col("rn") === 2)
    assert(hasWindow(rn2), "rn=2 must keep the window")
    val desc = base.withColumn("rn",
      row_number().over(Window.partitionBy("k").orderBy(col("v").desc)))
      .filter(col("rn") === 1)
    assert(hasWindow(desc), "descending order must keep the window")
    val global = base.withColumn("rn",
      row_number().over(Window.orderBy(col("v").asc_nulls_first)))
      .filter(col("rn") === 1)
    assert(hasWindow(global), "empty partition spec must keep the window")
    // rank() has row_number's frame but not its semantics — must not fire
    val rk = base.withColumn("rn", rank().over(byK)).filter(col("rn") === 1)
    assert(hasWindow(rk), "rank() must keep the window")
  }
}
