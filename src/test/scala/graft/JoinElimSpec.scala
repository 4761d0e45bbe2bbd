package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{JoinEliminationRewrite, TableConstraints}

/** Plan + soundness pins for [[graft.plans.JoinEliminationRewrite]]
  * (opt7): the gate hash proves elimination ≡ executing the join; these
  * tests prove the join is actually GONE from the plan, that every
  * refusal path keeps it, and that a false uniqueness claim is refused
  * at registration.
  */
class JoinElimSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def scans(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten

  private def scansOrders(df: DataFrame): Boolean = scans(df).exists(_.contains("orders"))

  private def elimSession(): SparkSession = {
    val s = SparkEntry.configure(spark.newSession())
    assert(TableConstraints.registerUnique(s, Tables(s, dir, "orders"), "o_orderkey"))
    graft.plans.GraftRules.install(s, JoinEliminationRewrite)
    s
  }

  test("opt7 gate plan never scans orders; results equal the rule-off run") {
    val s = SparkEntry.configure(spark.newSession())
    val df = SparkEntry.queries("opt7_join_elim")(s, dir)
    assert(!scansOrders(df), s"orders still scanned: ${scans(df)}")
    assert(scans(df).exists(_.contains("lineitem")))
    val off = SparkEntry.configure(spark.newSession())
    val li = Tables(off, dir, "lineitem")
    val or = Tables(off, dir, "orders")
    val full = li.join(or, li("l_orderkey") === or("o_orderkey"), "left")
      .groupBy(col("l_returnflag"))
      .agg(sum(expr("CAST(round(l_quantity * 100) AS BIGINT)")).as("sum_qty_c"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag").asc_nulls_first)
    assert(scansOrders(full), "control: rule-off plan must keep the join")
    assert(df.collect().toSeq == full.collect().toSeq)
  }

  test("refusal paths all keep the join; a false uniqueness claim is refused") {
    val s = elimSession()
    // the audit pass refuses a genuinely duplicated key
    assert(!TableConstraints.registerUnique(s, Tables(s, dir, "lineitem"), "l_suppkey"))
    def joined(kind: String) = {
      val li = Tables(s, dir, "lineitem")
      val or = Tables(s, dir, "orders")
      li.join(or, li("l_orderkey") === or("o_orderkey"), kind)
    }
    // positive control: the eligible shape rewrites on this session
    val good = joined("left").groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    assert(!scansOrders(good), "control: eligible shape must eliminate")
    // a right-column reference above the join keeps it
    val refsRight = joined("left").groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), max(col("o_custkey")).as("mx"))
    assert(scansOrders(refsRight), "right-column reference must keep the join")
    // inner join filters unmatched left rows — never eliminable from
    // uniqueness alone
    val inner = joined("inner").groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    assert(scansOrders(inner), "inner join must keep the join")
    // a join to a non-registered table keeps it
    val li = Tables(s, dir, "lineitem")
    val supp = Tables(s, dir, "supplier")
    val unreg = li.join(supp, li("l_suppkey") === supp("s_suppkey"), "left")
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    assert(scans(unreg).exists(_.contains("supplier")), "unregistered table must keep the join")
  }

  test("audit scope and multi-path scans (r13 review): both refuse") {
    val s = elimSession()
    // an audit over a filtered slice must THROW, not register a
    // subset-verified constraint against the full table
    intercept[IllegalArgumentException] {
      TableConstraints.registerUnique(
        s, Tables(s, dir, "orders").filter(col("o_orderkey") < 100), "o_orderkey")
    }
    // a multi-path scan is a union the constraint was never verified
    // on: o_orderkey is unique in EACH dir but duplicated across them
    val dup = s.read.parquet(s"$dir/orders.parquet", "/root/testdata/sf0.01/orders.parquet")
    val li = Tables(s, dir, "lineitem")
    val q = li.join(dup, li("l_orderkey") === dup("o_orderkey"), "left")
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    assert(scansOrders(q), "multi-path right side must keep the join")
  }

  // ------------------------------------------------------------- opt8
  import graft.plans.EagerAggregationRewrite
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}

  /** The pushed shape: an Aggregate somewhere BELOW a Join. */
  private def aggBelowJoin(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case j: Join if j.left.collectFirst { case a: Aggregate => a }.nonEmpty => j
    }.nonEmpty

  private def eagerSession(): SparkSession = {
    val s = SparkEntry.configure(spark.newSession())
    assert(TableConstraints.registerUnique(s, Tables(s, dir, "supplier"), "s_suppkey"))
    graft.plans.GraftRules.install(s, EagerAggregationRewrite)
    s
  }

  test("opt8 gate pushes the partial aggregate below the join; results equal rule-off") {
    val s = SparkEntry.configure(spark.newSession())
    val df = SparkEntry.queries("opt8_eager_agg")(s, dir)
    assert(aggBelowJoin(df), "no aggregate below the join:\n" +
      df.queryExecution.optimizedPlan.treeString)
    val off = SparkEntry.configure(spark.newSession())
    val li = Tables(off, dir, "lineitem")
    val supp = Tables(off, dir, "supplier")
    val plain = li.join(supp, li("l_suppkey") === supp("s_suppkey"), "inner")
      .groupBy(col("s_name"))
      .agg(sum(expr("CAST(round(l_quantity * 100) AS BIGINT)")).as("sum_qty_c"),
        count(lit(1)).as("n_rows"), max(col("l_shipdate")).as("max_ship"))
      .orderBy(col("s_name").asc_nulls_first)
    assert(!aggBelowJoin(plain), "control: rule-off plan must be a single aggregate")
    assert(df.collect().toSeq == plain.collect().toSeq)
  }

  test("opt8 refusals: right-side measure, distinct agg, non-unique key all stay single-agg") {
    val s = eagerSession()
    def joined = {
      val li = Tables(s, dir, "lineitem")
      val supp = Tables(s, dir, "supplier")
      li.join(supp, li("l_suppkey") === supp("s_suppkey"), "inner")
    }
    // positive control
    val good = joined.groupBy(col("s_name")).agg(count(lit(1)).as("n"))
    assert(aggBelowJoin(good), "control: eligible shape must push")
    // an aggregate over a right (dim) column cannot decompose to the fact side
    val rightMeasure = joined.groupBy(col("s_name"))
      .agg(sum(expr("CAST(round(s_acctbal * 100) AS BIGINT)")).as("bal"))
    assert(!aggBelowJoin(rightMeasure), "right-side measure must refuse")
    // COUNT(DISTINCT ...) never decomposes through a pre-aggregation
    val distinctAgg = joined.groupBy(col("s_name"))
      .agg(countDistinct(col("l_orderkey")).as("d"))
    assert(!aggBelowJoin(distinctAgg), "distinct aggregate must refuse")
    // a never-registered dim key (customer — orders.o_orderkey is
    // registered by the opt7 tests in this same app): stays single-agg
    val or = Tables(s, dir, "orders")
    val cust = Tables(s, dir, "customer")
    val unreg = or.join(cust, or("o_custkey") === cust("c_custkey"), "inner")
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    assert(!aggBelowJoin(unreg), "unregistered key must refuse")
  }
}
