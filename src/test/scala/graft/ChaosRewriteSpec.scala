package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{In, InSet}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{GraftRules, InListToJoinRewrite, RangeBinJoinRewrite}

/** Chaos pins for the two OPT-IN optimizer rewrites (VERDICT r9 #8):
  * the plan-shape suites run them under AQE-off on tidy inputs; these
  * run them the hostile way someone would actually turn them on —
  * adaptive execution ENABLED, AQE skew-join handling FORCED onto the
  * rewritten join (tiny advisory sizes, broadcast disabled), sf0.1
  * parquet inputs with a deliberately hot key region — and require (a)
  * the rewrite still fires and (b) the answer is bit-identical to the
  * un-rewritten spelling. Locks the guards before either rule is ever
  * made a default.
  */
class ChaosRewriteSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.1"

  /** A fresh session with AQE fully unleashed and skew handling forced
    * aggressive (1.2x factor, 64k advisory) so the rewritten equi joins
    * really get split/coalesced at runtime.
    */
  private def chaosSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
    s
  }

  /** Deterministic aggregate fingerprint — pair multisets are too big to
    * collect, equality is checked on (count, keyed sums).
    */
  private def fingerprint(df: DataFrame, a: String, b: String): Seq[Any] =
    df.agg(
      count(lit(1)),
      sum(col(a)), sum(col(b)),
      sum((col(a) * 31L + col(b)) % 1000003L)).collect()(0).toSeq

  test("range-bin rewrite under AQE skew-join: fires, splits, and matches the nested loop") {
    val s = chaosSession()
    s.experimental.extraOptimizations = Seq(RangeBinJoinRewrite(7L * 24 * 3600 * 1000000L)) // 7-day bins
    // points: every sf0.1 lineitem ship event (~600k). intervals: 40
    // sliding windows piled onto ONE month (1995-06) + 15 spread across
    // the rest of 1995 — the June bins go hot on both sides
    def points(sess: SparkSession) = Tables(sess, dir, "lineitem")
      .select(col("l_orderkey").as("pid"), col("l_shipdate").as("ts"))
    def intervals(sess: SparkSession) = sess.range(55).selectExpr(
      "id AS iid",
      """CASE WHEN id < 40
        |  THEN timestamp'1995-06-01 00:00:00' + make_interval(0,0,0,0,0,0, id*3600)
        |  ELSE timestamp'1995-01-01 00:00:00' + make_interval(0,0,0,(id-40)*21,0,0,0)
        |END AS istart""".stripMargin,
      """CASE WHEN id < 40
        |  THEN timestamp'1995-06-28 00:00:00' + make_interval(0,0,0,0,0,0, id*3600)
        |  ELSE timestamp'1995-01-08 00:00:00' + make_interval(0,0,0,(id-40)*21,0,0,0)
        |END AS iend""".stripMargin)
    def joined(sess: SparkSession) = points(sess).join(intervals(sess),
      col("ts") >= col("istart") && col("ts") < col("iend"))

    val rewritten = joined(s)
    // the rewrite fired: bin replication shows as a Generate (explode of
    // the interval's bin sequence) in the OPTIMIZED logical plan —
    // visible under AQE, unlike physical-plan pins
    assert(rewritten.queryExecution.optimizedPlan.collect { case g: Generate => g }.nonEmpty,
      "range-bin rewrite did not fire under AQE")
    val got = fingerprint(rewritten, "pid", "iid")
    // baseline: fresh session, rule never installed → nested-loop plan
    val want = fingerprint(joined(chaosSession()), "pid", "iid")
    assert(got == want, s"rewritten=$got nested-loop=$want")
    assert(got.head.asInstanceOf[Long] > 100000L, "hot month produced no pairs — vacuous chaos")
  }

  test("in-list rewrite under AQE on skew-amplified input: fires and matches the literal filter") {
    val s = SparkEntry.configure(chaosSession())
    // 500-key allow-list over an input where ONE allowed key's rows are
    // replicated 30x (union) — the skewed "ids from yesterday" shape
    def skewed(sess: SparkSession) = {
      val li = Tables(sess, dir, "lineitem").select("l_orderkey", "l_extendedprice")
      val hot = li.filter(col("l_orderkey") === 1L)
      (1 to 30).map(_ => hot).foldLeft(li)(_ unionAll _)
    }
    val keys: Seq[Long] = (1L to 500L).map(_ * 7L) ++ Seq(1L)
    def filtered(sess: SparkSession) =
      skewed(sess).filter(col("l_orderkey").isin(keys: _*))
        .select(col("l_orderkey").as("a"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("b"))

    GraftRules.install(s, InListToJoinRewrite(256))
    val rewritten = filtered(s)
    val opt = rewritten.queryExecution.optimizedPlan
    assert(opt.collect { case j: Join => j }.nonEmpty, "in-list rewrite did not fire under AQE")
    assert(opt.expressions.flatMap(_.collect {
      case i: In if i.list.length >= 256 => i
      case i: InSet if i.hset.size >= 256 => i
    }).isEmpty, "giant literal list survived in the plan")
    val got = fingerprint(rewritten, "a", "b")
    val want = fingerprint(filtered(SparkEntry.configure(chaosSession())), "a", "b")
    assert(got == want, s"rewritten=$got literal=$want")
    assert(got.head.asInstanceOf[Long] > 30L, "skew amplification missing — vacuous chaos")
  }

  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten

  test("MV rewrite + join elimination + eager aggregation under AQE at sf0.1: fire and match") {
    import graft.plans.{EagerAggregationRewrite, JoinEliminationRewrite,
      MaterializedViewRewrite, TableConstraints}
    val s = SparkEntry.configure(chaosSession())
    // build + register the lineitem summary at sf0.1 (memoized per app)
    SparkEntry.queries("opt5_mv_rewrite")(s, dir).collect()
    assert(TableConstraints.registerUnique(s, Tables(s, dir, "orders"), "o_orderkey"))
    assert(TableConstraints.registerUnique(s, Tables(s, dir, "supplier"), "s_suppkey"))
    GraftRules.install(s, MaterializedViewRewrite, JoinEliminationRewrite, EagerAggregationRewrite)
    val off = SparkEntry.configure(chaosSession()) // carries none of the three rules

    // the opt9 composed shape, adaptive execution live the whole way
    def composed(sess: SparkSession) = {
      val li = Tables(sess, dir, "lineitem")
      val or = Tables(sess, dir, "orders")
      li.join(or, li("l_orderkey") === or("o_orderkey"), "left")
        .filter(col("l_linestatus") === "F")
        .groupBy(col("l_returnflag"))
        .agg(sum(expr("CAST(round(l_quantity * 100) AS BIGINT)")).as("a"),
          count(lit(1)).as("b"))
        .orderBy(col("l_returnflag").asc_nulls_first)
    }
    val c = composed(s)
    val cp = scanPaths(c)
    assert(cp.exists(_.contains("graft_mv_")) && !cp.exists(_.contains("lineitem")) &&
      !cp.exists(_.contains("orders")), s"composition did not reach summary-only: $cp")
    assert(c.collect().toSeq == composed(off).collect().toSeq)

    // eager aggregation under a runtime-adaptive join
    def report(sess: SparkSession) = {
      val li = Tables(sess, dir, "lineitem")
      val supp = Tables(sess, dir, "supplier")
      li.join(supp, li("l_suppkey") === supp("s_suppkey"), "inner")
        .groupBy(col("s_name"))
        .agg(sum(expr("CAST(round(l_quantity * 100) AS BIGINT)")).as("a"),
          count(lit(1)).as("b"))
        .orderBy(col("s_name").asc_nulls_first)
    }
    val r = report(s)
    val pushed = r.queryExecution.optimizedPlan.collect {
      case j: Join if j.left.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty => j
    }
    assert(pushed.nonEmpty, "eager aggregation did not fire under AQE")
    assert(r.collect().toSeq == report(off).collect().toSeq)
  }
}
