package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{DistinctEliminationRewrite, TableConstraints}

/** Plan + soundness pins for [[graft.plans.DistinctEliminationRewrite]]
  * (opt14): the gate hash proves elimination ≡ executing the dedup;
  * these tests prove the dedup aggregate is actually GONE from the
  * plan, that every refusal path keeps it, and — the soundness line
  * this rule draws beyond opt7 — that a unique-but-nullable column is
  * refused at registration, because dropDuplicates merges equal NULL
  * keys and eliminating it would resurrect them.
  */
class DistinctElimSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def nAggs(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.size

  private def keySession(): SparkSession = {
    val s = SparkEntry.configure(spark.newSession())
    assert(TableConstraints.registerKey(s, Tables(s, dir, "orders"), "o_orderkey"))
    graft.plans.GraftRules.install(s, DistinctEliminationRewrite)
    s
  }

  test("opt14 gate plan carries one aggregate (the groupBy); rule-off carries two") {
    val s = SparkEntry.configure(spark.newSession())
    val df = SparkEntry.queries("opt14_distinct_elim")(s, dir)
    assert(nAggs(df) == 1, s"dedup aggregate survived:\n${df.queryExecution.optimizedPlan}")
    val off = SparkEntry.configure(spark.newSession())
    val full = Tables(off, dir, "orders")
      .dropDuplicates("o_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("sum_price_c"))
      .orderBy(col("o_orderpriority").asc_nulls_first)
    assert(nAggs(full) == 2, "control: rule-off plan must keep the dedup aggregate")
    assert(df.collect().toSeq == full.collect().toSeq)
  }

  test("both dedup spellings collapse: full-row distinct and subset-keys first()") {
    val s = keySession()
    val distinctAll = Tables(s, dir, "orders").select("o_orderkey", "o_orderpriority").distinct()
    assert(nAggs(distinctAll) == 0, "distinct() over a key superset must eliminate")
    // subset keys: non-keys become first() over singleton groups — the
    // rewrite re-issues them under their original exprIds, so the
    // downstream select still resolves
    val sub = Tables(s, dir, "orders").dropDuplicates("o_orderkey")
      .select(col("o_orderstatus")).orderBy(col("o_orderstatus").asc_nulls_first)
    assert(nAggs(sub) == 0, "dropDuplicates(pk) must eliminate")
    val off = SparkEntry.configure(spark.newSession())
    val ctl = Tables(off, dir, "orders").dropDuplicates("o_orderkey")
      .select(col("o_orderstatus")).orderBy(col("o_orderstatus").asc_nulls_first)
    assert(ctl.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.nonEmpty)
    assert(sub.collect().toSeq == ctl.collect().toSeq)
    // a RENAMED key still traces to the registered scan column (the
    // registration name is scan-side; the lineage walk recovers it)
    val renamed = Tables(s, dir, "orders").withColumnRenamed("o_orderkey", "ok")
      .dropDuplicates("ok").groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    assert(nAggs(renamed) == 1, "renamed key must still eliminate the dedup")
  }

  test("refusals: non-key dedup, joined child, conf off") {
    val s = keySession()
    // dedup on a non-registered (and genuinely non-unique) column
    val nonKey = Tables(s, dir, "orders").dropDuplicates("o_custkey")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    assert(nAggs(nonKey) == 2, "non-key dedup must keep its aggregate")
    // a joined child is not a (filtered) scan of the registered table
    val or = Tables(s, dir, "orders")
    val cu = Tables(s, dir, "customer")
    val joined = or.join(cu, or("o_custkey") === cu("c_custkey"), "inner")
      .dropDuplicates("o_orderkey")
    assert(nAggs(joined) == 1, "joined child must keep the dedup")
    // filtered child is eligible (subsets preserve unique + null-free)
    val filtered = Tables(s, dir, "orders").filter(col("o_totalprice") > 1000)
      .dropDuplicates("o_orderkey")
    assert(nAggs(filtered) == 0, "filtered scan must still eliminate")
    // a fresh session without the rule: nothing fires even though the
    // constraint is registered app-wide
    val off = SparkEntry.configure(spark.newSession())
    assert(nAggs(Tables(off, dir, "orders").dropDuplicates("o_orderkey")) == 1)
  }

  test("composes with join elimination: dedup AND never-read dim join both vanish") {
    val s = keySession()
    assert(TableConstraints.registerUnique(s, Tables(s, dir, "customer"), "c_custkey"))
    graft.plans.GraftRules.install(s, graft.plans.JoinEliminationRewrite)
    val or = Tables(s, dir, "orders")
    val cu = Tables(s, dir, "customer")
    val q = or.dropDuplicates("o_orderkey")
      .join(cu, or("o_custkey") === cu("c_custkey"), "left")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority").asc_nulls_first)
    assert(nAggs(q) == 1, "dedup aggregate must be gone")
    val scans = q.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten
    assert(!scans.exists(_.contains("customer")), "never-read dim join must be gone")
    // the composed plan still answers correctly
    val off = SparkEntry.configure(spark.newSession())
    val ctl = Tables(off, dir, "orders").dropDuplicates("o_orderkey")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority").asc_nulls_first)
    assert(q.collect().toSeq == ctl.collect().toSeq)
  }

  test("opt15: singleton aggregates collapse to per-row forms with exact types and values") {
    val s = keySession()
    def q(sess: SparkSession) = Tables(sess, dir, "orders")
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"),
        // a genuinely nullable column, to pin count(x)'s IF form
        when(col("o_orderpriority") =!= "1-URGENT", col("o_orderpriority")).as("pri_n"),
        col("o_orderdate"))
      .groupBy(col("o_orderkey"))
      .agg(
        sum(col("price_c")).as("s"),
        avg(col("price_c")).as("a"),
        count(lit(1)).as("n_star"),
        count(col("pri_n")).as("n_pri"),
        min(col("o_orderdate")).as("d0"),
        max(col("o_orderdate")).as("d1"),
        first(col("pri_n"), ignoreNulls = true).as("f"))
      .orderBy(col("o_orderkey").asc_nulls_first)
    val on = q(s)
    assert(nAggs(on) == 0, s"singleton aggregate survived:\n${on.queryExecution.optimizedPlan}")
    val off = SparkEntry.configure(spark.newSession())
    val ctl = q(off)
    assert(nAggs(ctl) == 1, "control must execute the aggregate")
    // types must survive the collapse exactly (sum→LONG, avg→DOUBLE,
    // counts→LONG), or downstream plans would re-resolve differently
    assert(on.schema.map(f => (f.name, f.dataType)) == ctl.schema.map(f => (f.name, f.dataType)))
    assert(on.collect().toSeq == ctl.collect().toSeq)
  }

  test("opt15 refusals: DECIMAL sum, FILTER clause, computed child keep the aggregate") {
    val s = keySession()
    // decimal sum: the precision-promotion cast is not in the exact
    // allowlist — the aggregate must stay
    val dec = Tables(s, dir, "orders")
      .select(col("o_orderkey"), expr("CAST(o_totalprice AS DECIMAL(12,2))").as("p"))
      .groupBy(col("o_orderkey")).agg(sum(col("p")).as("s"))
    assert(nAggs(dec) == 1, "decimal sum must refuse")
    // FILTER clause could exclude the group's one row
    val filt = Tables(s, dir, "orders")
      .select(col("o_orderkey"), expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("p"))
      .groupBy(col("o_orderkey"))
      .agg(expr("sum(p) FILTER (WHERE p > 1000000)").as("s"))
    assert(nAggs(filt) == 1, "FILTER clause must refuse")
    // an aggregate over a non-attribute child (computed inside the agg)
    val comp = Tables(s, dir, "orders").groupBy(col("o_orderkey"))
      .agg(sum(col("o_totalprice") * 2).as("s"))
    assert(nAggs(comp) == 1, "computed aggregate child must refuse")
  }

  test("opt15 gate plan carries one aggregate (the outer rollup), not two") {
    val s = SparkEntry.configure(spark.newSession())
    val df = SparkEntry.queries("opt15_singleton_agg")(s, dir)
    assert(nAggs(df) == 1, s"inner singleton rollup survived:\n${df.queryExecution.optimizedPlan}")
    val off = SparkEntry.configure(spark.newSession())
    // rule-off control of the same two-level query
    val full = Tables(off, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"), col("o_orderdate"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(sum(col("price_c")).as("order_total_c"), count(lit(1)).as("n_lines"),
        min(col("o_orderdate")).as("first_date"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("order_total_c")).as("sum_price_c"), sum(col("n_lines")).as("n_orders"),
        min(col("first_date")).as("min_date"))
      .orderBy(col("o_orderpriority").asc_nulls_first)
    assert(nAggs(full) == 2, "control: rule-off plan must keep both aggregates")
    assert(df.collect().toSeq == full.collect().toSeq)
  }

  test("a unique-but-nullable column is refused the key contract (null-merge soundness)") {
    val s = keySession()
    val path = SharedSpark.scratchDir("distinct_elim_nulls")
    import s.implicits._
    Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b"), (null, "c"), (null, "d"))
      .toDF("id", "v").write.mode("overwrite").parquet(path)
    val tbl = s.read.parquet(path)
    // unique among non-nulls: the WEAK audit passes, the KEY audit refuses
    assert(TableConstraints.registerUnique(s, tbl, "id"))
    assert(!TableConstraints.registerKey(s, tbl, "id"))
    // so the rewrite must not fire, and dedup semantics survive: the
    // two null-keyed rows merge to one (3 rows, not 4)
    val dd = s.read.parquet(path).dropDuplicates("id")
    assert(nAggs(dd) == 1, "nullable key must keep the dedup aggregate")
    assert(dd.count() == 3L)
    // control for the audit itself: a genuinely null-free unique column
    // on the same shape registers fine
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.mode("overwrite").parquet(path)
    assert(TableConstraints.registerKey(s, s.read.parquet(path), "id"))
    assert(nAggs(s.read.parquet(path).dropDuplicates("id")) == 0)
  }
}
