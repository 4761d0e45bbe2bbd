package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.RangeBinJoinRewrite

/** Plan-shape and semantics pins for [[graft.plans.RangeBinJoinRewrite]]
  * (naive point-in-interval join → binned equi-join). Each test runs in
  * its own `newSession()` — the rule installation, bin width included,
  * is session state, so nothing here leaks into the other suites sharing
  * the SparkContext.
  */
class RangeBinRewriteSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def ruled(binUs: Long): SparkSession = {
    val s = spark.newSession()
    s.experimental.extraOptimizations = Seq(RangeBinJoinRewrite(binUs))
    s
  }

  /** Point ids 0..199 at second granularity, every 37th ts NULL. */
  private def pointsTs(s: SparkSession): DataFrame =
    s.range(200).selectExpr(
      "id AS pid",
      "CASE WHEN id % 37 = 0 THEN NULL ELSE timestamp_micros(id * 1000000) END AS ts")

  /** Intervals of varied span (9–63 s), one NULL start, one NULL end,
    * one empty (`e = s`). With an 8 s bin each spans up to 8 bins.
    */
  private def intervalsTs(s: SparkSession): DataFrame =
    s.range(12).selectExpr(
      "id AS iid",
      "CASE WHEN id = 3 THEN NULL ELSE timestamp_micros(id * 17000000) END AS istart",
      """CASE WHEN id = 4 THEN NULL
        |     WHEN id = 5 THEN timestamp_micros(id * 17000000)
        |     ELSE timestamp_micros(id * 17000000 + (id % 7 + 1) * 9000000) END AS iend""".stripMargin)

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def physPlan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def hasNestedLoop(df: DataFrame): Boolean = {
    val p = physPlan(df)
    p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct")
  }

  private def fired(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Generate])

  private def naive(s: SparkSession): DataFrame =
    pointsTs(s).join(intervalsTs(s), col("ts") >= col("istart") && col("ts") < col("iend"))
      .select("pid", "iid")

  test("rewrites the keyless containment join: equi plan, identical pairs, nulls dropped") {
    val plain = spark.newSession()
    val r = ruled(8000000L)
    assert(hasNestedLoop(naive(plain)) && !fired(naive(plain)))
    assert(!hasNestedLoop(naive(r)), s"still nested-loop:\n${physPlan(naive(r))}")
    assert(fired(naive(r)))
    val expect = pairs(naive(plain))
    assert(expect.nonEmpty)
    assert(pairs(naive(r)) == expect)
    // nulls on either side never pair; the empty interval never pairs
    assert(!expect.exists { case (p, i) => p % 37 == 0 || i == 3 || i == 4 || i == 5 })
    // multiset, not set: no pair may be emitted twice across bins
    assert(naive(r).count() == expect.size.toLong)
  }

  test("inclusive upper bound keeps the boundary point; strict drops it") {
    val r = ruled(8000000L)
    // interval 0 is [0 s, 9 s); point 9 sits exactly at the end
    def sel(c: org.apache.spark.sql.Column) =
      pointsTs(r).join(intervalsTs(r), c).select("pid", "iid").filter(col("iid") === 0)
    val strict = pairs(sel(col("ts") >= col("istart") && col("ts") < col("iend")))
    val incl = pairs(sel(col("ts") >= col("istart") && col("ts") <= col("iend")))
    assert(!strict.contains((9L, 0L)) && incl.contains((9L, 0L)))
    assert(incl == strict + ((9L, 0L)))
  }

  test("points on the RIGHT side rewrite too") {
    val plain = spark.newSession()
    val r = ruled(8000000L)
    def flipped(s: SparkSession) =
      intervalsTs(s).join(pointsTs(s), col("ts") >= col("istart") && col("ts") < col("iend"))
        .select("iid", "pid")
    assert(fired(flipped(r)) && !hasNestedLoop(flipped(r)))
    assert(pairs(flipped(r)) == pairs(flipped(plain)))
  }

  test("integral types and negative values bin correctly (trunc-div monotonicity)") {
    val plain = spark.newSession()
    val r = ruled(7L)
    def df(s: SparkSession) = {
      val p = s.range(120).selectExpr("id AS pid", "id - 60 AS v")
      val i = s.range(30).selectExpr("id AS iid", "(id - 15) * 9 AS lo", "(id - 15) * 9 + 11 AS hi")
      p.join(i, col("v") >= col("lo") && col("v") < col("hi")).select("pid", "iid")
    }
    assert(fired(df(r)) && !hasNestedLoop(df(r)))
    assert(pairs(df(r)) == pairs(df(plain)) && pairs(df(plain)).nonEmpty)
  }

  test("extra cross-side conjuncts are preserved") {
    val plain = spark.newSession()
    val r = ruled(8000000L)
    def df(s: SparkSession) =
      pointsTs(s).join(intervalsTs(s),
        col("ts") >= col("istart") && col("ts") < col("iend") && col("pid") % 2 =!= col("iid") % 2)
        .select("pid", "iid")
    assert(fired(df(r)))
    assert(pairs(df(r)) == pairs(df(plain)))
  }

  test("guards: equi conjunct present or non-inner join → no rewrite") {
    val r = ruled(8000000L)
    val equi = pointsTs(r).join(intervalsTs(r),
      col("pid") % 3 === col("iid") % 3 && col("ts") >= col("istart") && col("ts") < col("iend"))
    assert(!fired(equi), "must leave keyed range joins to the planner/operator")
    val outer = pointsTs(r).join(intervalsTs(r),
      col("ts") >= col("istart") && col("ts") < col("iend"), "left")
    assert(!fired(outer), "only INNER joins preserve the drop-null/drop-empty semantics")
  }

  test("opt2 gate entry leaves the caller's rules as they were") {
    val s = SparkEntry.configure(spark.newSession())
    // one event a minute: every 97th opens a 2-hour window over ~120 of them
    val dir = SharedSpark.scratchDir("opt2")
    s.range(2000).selectExpr("id AS event_id", "id % 7 AS user_id",
      "timestamp_micros(id * 60000000) AS ts").write.parquet(s"$dir/events.parquet")
    val before = s.experimental.extraOptimizations
    val df = SparkEntry.queries("opt2_range_bin_auto")(s, dir)
    assert(fired(df), "the entry's own plan must still take the range-bin rewrite")
    assert(df.count() > 0)
    assert(s.experimental.extraOptimizations == before,
      "opt2 switched the range-bin rewrite on for every later entry on this session")
  }
}
