package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Expand, LogicalPlan}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.KmvNdv
import graft.plans.{ApproxDistinctRewrite, GraftRules}

/** Plan/semantics pins for the opt-in COUNT(DISTINCT) → KMV sketch
  * optimizer rule (plans.ApproxDistinctRewrite; opt4 gate entry). The
  * gate hash proves cross-engine semantics in the exact-below-k regime;
  * these tests prove the rewrite actually FIRES (a no-op rule would
  * pass the gate too — the cardinalities sit below k), that null/empty
  * semantics match Count's, that the estimator regime holds its error
  * bound, and that the rule never leaks out of the gate entry.
  */
class ApproxDistinctRewriteSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** A clone of the shared session carrying the rule; the shared
    * session itself does not. */
  private def ruled(rule: ApproxDistinctRewrite = ApproxDistinctRewrite()): SparkSession = {
    val s = org.apache.spark.sql.GraftShims.cloneSession(spark)
    GraftRules.install(s, rule)
    s
  }

  private def kmvs(p: LogicalPlan): Seq[KmvNdv] =
    p.collect { case n => n.expressions.flatMap(_.collect { case f: KmvNdv => f }) }.flatten

  private def distincts(p: LogicalPlan): Seq[AggregateExpression] =
    p.collect { case n =>
      n.expressions.flatMap(_.collect { case ae: AggregateExpression if ae.isDistinct => ae })
    }.flatten

  test("flag on: the sketch aggregate replaces the distinct count; flag off: untouched") {
    def q(s: SparkSession) =
      Tables(s, dir, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"))
    val on = q(ruled()).queryExecution.optimizedPlan
    assert(kmvs(on).nonEmpty, s"rule did not fire:\n$on")
    assert(distincts(on).isEmpty, s"distinct aggregate survived:\n$on")
    val off = q(spark).queryExecution.optimizedPlan
    assert(kmvs(off).isEmpty && distincts(off).nonEmpty,
      s"rule fired on a session without it:\n$off")
  }

  test("below k the rewritten query equals the exact spelling row for row") {
    def rows(s: SparkSession) =
      Tables(s, dir, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type").collect().toSeq
    assert(rows(ruled()) == rows(spark))
  }

  test("null semantics match Count(distinct): nulls skipped, all-null and empty groups -> 0") {
    def rows(s: SparkSession) = {
      import s.implicits._
      val df = Seq[(String, java.lang.Long)](
        ("a", 1L), ("a", 1L), ("a", 2L), ("a", null),
        ("b", null), ("b", null)).toDF("g", "v")
      df.groupBy("g").agg(countDistinct(col("v")).as("n")).orderBy("g").collect().toSeq
    }
    val exact = rows(spark)
    assert(rows(ruled()) == exact)
    assert(exact.map(r => (r.getString(0), r.getLong(1))) == Seq(("a", 2L), ("b", 0L)))
  }

  test("multi-argument COUNT(DISTINCT a, b) rewrites and keeps tuple-null semantics") {
    def run(s: SparkSession) = {
      import s.implicits._
      val df = Seq[(java.lang.Long, java.lang.Long)](
        (1L, 1L), (1L, 1L), (1L, 2L), (1L, null), (null, 1L), (2L, 2L))
        .toDF("a", "b")
      val q = df.agg(count_distinct(col("a"), col("b")).as("n"))
      (q.queryExecution.optimizedPlan, q.collect().head.getLong(0))
    }
    val (planOn, nOn) = run(ruled())
    assert(kmvs(planOn).nonEmpty, s"multi-arg distinct not rewritten:\n$planOn")
    val (_, nOff) = run(spark)
    assert(nOn == 3L && nOff == 3L) // (1,1),(1,2),(2,2); null tuples skipped
  }

  test("multi-distinct aggregate: the rule leaves no distinct (no Expand to plan)") {
    // The registration route (extraOptimizations) runs user rules AFTER
    // Spark's RewriteDistinctAggregates, so drive the rule directly on
    // the analyzed plan, before that expansion.
    val q = Tables(spark, dir, "events").groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_id")).as("n_ids"))
    val rewritten = ApproxDistinctRewrite()(q.queryExecution.analyzed)
    assert(distincts(rewritten).isEmpty && kmvs(rewritten).size == 2,
      s"multi-distinct not fully rewritten:\n$rewritten")
    val got = org.apache.spark.sql.GraftShims.ofRows(spark, rewritten)
      .orderBy("event_type").collect().toSeq
    assert(got == q.orderBy("event_type").collect().toSeq)
  }

  test("a configured session rewrites only the single-distinct shape") {
    val grouped = Tables(ruled(), dir, "events").groupBy("event_type")
    val multi = grouped.agg(countDistinct(col("user_id")), countDistinct(col("event_id")))
      .queryExecution.optimizedPlan
    assert(multi.exists(_.isInstanceOf[Expand]) && kmvs(multi).isEmpty,
      s"a session rewrote a multi-distinct aggregate:\n$multi")
    val single = grouped.agg(countDistinct(col("user_id"))).queryExecution.optimizedPlan
    assert(kmvs(single).size == 1, s"single-distinct not rewritten once:\n$single")
  }

  test("above k the estimate lands inside 5 sigma; below-k stays exact at the boundary") {
    val s = ruled(ApproxDistinctRewrite(k = 256))
    import s.implicits._
    val n = 20000L
    val est = s.range(n).select((col("id") * 2654435761L).as("v"))
      .agg(countDistinct(col("v")).as("ndv")).as[Long].head()
    val sigma = n / math.sqrt(256 - 2)
    assert(math.abs(est - n) <= 5 * sigma, s"estimate $est vs $n (sigma ~ $sigma)")
    // exactly-k distinct: the sketch never trimmed -> exact
    val atK = s.range(256).agg(countDistinct(col("id")).as("ndv")).as[Long].head()
    assert(atK == 256L)
  }

  test("opt4 entry: sketch in the frame's plan, caller's rules untouched") {
    val rules = spark.experimental.extraOptimizations
    val df = SparkEntry.queries("opt4_approx_distinct")(spark, dir)
    assert(kmvs(df.queryExecution.optimizedPlan).nonEmpty,
      "the gate entry's plan carries no sketch aggregate — the gate pass is vacuous")
    assert(spark.experimental.extraOptimizations == rules,
      "the gate entry installed the approx-distinct rule on the caller's session")
    // and executing the plan still returns the exact answer below k
    assert(df.collect().nonEmpty)
  }

  test("streaming aggregates are left alone (their emission contract is sw6's job)") {
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)](spark)
    mem.addData(("a", 1L), ("a", 2L))
    val q = mem.toDF().toDF("g", "v").groupBy("g")
      .agg(countDistinct(col("v")).as("n"))
    val plan = ApproxDistinctRewrite()(q.queryExecution.analyzed)
    assert(kmvs(plan).isEmpty && distincts(plan).nonEmpty,
      s"streaming aggregate was rewritten:\n$plan")
  }
}
