package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan + semantics pins for [[graft.plans.MaterializedViewRewrite]]
  * (opt5): the gate hash proves MV-path ≡ raw-path values, these tests
  * prove the rewrite actually FIRES (the summary is scanned, the fact
  * table is not), that it round-trips semantics, and that every
  * exactness guard refuses correctly. Per-test `newSession()` keeps the
  * session-scoped rule installs isolated.
  */
class MvRewriteSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def qtyCents = expr("CAST(round(l_quantity * 100) AS BIGINT)")

  /** Fresh configured session with the MV built+registered (the gate
    * entry memoizes the build per app) and the rewrite enabled.
    */
  private def mvSession(): SparkSession = {
    val s = SparkEntry.configure(spark.newSession())
    SparkEntry.queries("opt5_mv_rewrite")(s, dir).collect() // build + register
    graft.plans.GraftRules.install(s, graft.plans.MaterializedViewRewrite)
    s
  }

  /** Root paths of every file scan in the OPTIMIZED plan — the plan's
    * toString elides paths, so assertions walk the relations directly.
    */
  private def scans(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten

  private def scansMv(df: DataFrame): Boolean = scans(df).exists(_.contains("graft_mv_"))
  private def scansFact(df: DataFrame): Boolean = scans(df).exists(_.contains("lineitem"))

  test("opt5 entry re-plans onto the summary: MV scanned, lineitem never") {
    val s = mvSession()
    val df = SparkEntry.queries("opt5_mv_rewrite")(s, dir)
    assert(scansMv(df), s"summary not scanned: ${scans(df)}")
    assert(!scansFact(df), s"fact table still scanned: ${scans(df)}")
  }

  test("rewritten results equal the base-table plan, including a global aggregate") {
    val s = mvSession()
    def q(sess: SparkSession): DataFrame =
      graft.Tables(sess, dir, "lineitem")
        .filter(col("l_linestatus") === "F")
        .groupBy(col("l_returnflag"))
        .agg(sum(qtyCents).as("sq"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first)
    def g(sess: SparkSession): DataFrame =
      graft.Tables(sess, dir, "lineitem").agg(sum(qtyCents).as("sq"), count(lit(1)).as("n"))
    val off = SparkEntry.configure(spark.newSession())
    assert(scansMv(q(s)) && !scansFact(q(s)))
    assert(scansMv(g(s)), "global aggregate should roll up too")
    assert(q(s).collect().toSeq == q(off).collect().toSeq)
    assert(g(s).collect().toSeq == g(off).collect().toSeq)
    // COUNT's non-null contract survives the SUM re-aggregation
    assert(!q(s).schema("n").nullable || q(s).collect().forall(!_.isNullAt(1)))
  }

  test("exactness guards refuse: double SUM, non-group filter, unknown measure") {
    val s = mvSession()
    val doubleSum = graft.Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("sq"))
    assert(scansFact(doubleSum) && !scansMv(doubleSum),
      "float re-aggregation must be refused (accumulation order)")
    val badFilter = graft.Tables(s, dir, "lineitem")
      .filter(col("l_quantity") > 10)
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    assert(scansFact(badFilter) && !scansMv(badFilter),
      "a filter on a non-grouping column is not derivable from the summary")
    val unknown = graft.Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(sum(expr("CAST(round(l_discount * 100) AS BIGINT)")).as("sd"))
    assert(scansFact(unknown) && !scansMv(unknown),
      "a measure the MV does not store must stay on the base table")
    // a FILTERED definition must refuse at registration (r13 review): a
    // partial summary would rewrite whole-table queries to wrong results
    val base = graft.Tables(s, dir, "lineitem")
    val filteredDefn = base.filter(col("l_linestatus") === "F")
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("cnt"))
    intercept[IllegalArgumentException] {
      graft.plans.MaterializedViewRewrite.register(s, base, filteredDefn, "/tmp/never_written")
    }
  }

  test("opt6 refresh is genuinely incremental: v1 = partial fold, v2 = full, both retained") {
    import graft.sinks.VersionedTable
    val s = SparkEntry.configure(spark.newSession())
    val out = SparkEntry.queries("opt6_mv_refresh")(s, dir).collect().toSet
    val root = graft.queries.Extras.mvRefreshRoot(s, dir)
    // two-phase publish ran twice; retention keeps BOTH committed versions
    assert(VersionedTable.committedVersion(s, root).contains(2L))
    def summarize(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(qtyCents).as("sum_qty_c"),
          sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("sum_price_c"),
          count(lit(1)).as("cnt"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"))
    val li = graft.Tables(s, dir, "lineitem")
    val v1 = s.read.parquet(VersionedTable.dataPath(root, 1L)).collect().toSet
    val partial = summarize(li.filter(col("l_orderkey") % 7 =!= 0)).collect().toSet
    val full = summarize(li).collect().toSet
    assert(v1 == partial, "v1 must be the initial-corpus fold only")
    assert(v1 != full, "the delta must be non-empty or the refresh pin is vacuous")
    assert(out == full, "refreshed summary must equal the full recompute")
  }

  test("opt9: join elimination + MV rewrite compose — only the summary is scanned") {
    val s = SparkEntry.configure(spark.newSession())
    val df = SparkEntry.queries("opt9_rule_composition")(s, dir)
    val paths = scans(df)
    assert(paths.exists(_.contains("graft_mv_")), s"summary not scanned: $paths")
    assert(!paths.exists(_.contains("lineitem")), s"fact still scanned: $paths")
    assert(!paths.exists(_.contains("orders")), s"dim still scanned: $paths")
  }

  test("opt10: star MV fires — only the summary scanned; refusals keep the join") {
    val s = SparkEntry.configure(spark.newSession())
    val df = SparkEntry.queries("opt10_star_mv")(s, dir)
    // the entry installs the rule on its own clone; the queries below run on s
    graft.plans.GraftRules.install(s, graft.plans.MaterializedViewRewrite)
    val paths = scans(df)
    assert(paths.exists(_.contains("graft_starmv_")), s"summary not scanned: $paths")
    assert(!paths.exists(p => p.contains("lineitem") || p.contains("orders") ||
      p.contains("supplier")), s"star legs still scanned: $paths")
    // values equal the rule-off raw join
    val off = SparkEntry.configure(spark.newSession())
    def q(sess: SparkSession): DataFrame = {
      val li = graft.Tables(sess, dir, "lineitem")
      val or = graft.Tables(sess, dir, "orders")
      val supp = graft.Tables(sess, dir, "supplier")
      li.join(or, li("l_orderkey") === or("o_orderkey"), "left")
        .join(supp, li("l_suppkey") === supp("s_suppkey"), "left")
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), sum(qtyCents).as("sq"))
        .orderBy(col("s_nationkey").asc_nulls_first)
    }
    assert(scansMv2(q(s)), "roll-up to the other dim attribute must also derive")
    assert(q(s).collect().toSeq == q(off).collect().toSeq)
    // refusal 1: a FILTERED star query joins a subset — must stay raw
    val li = graft.Tables(s, dir, "lineitem")
    val or = graft.Tables(s, dir, "orders")
    val filtered = li.join(or, li("l_orderkey") === or("o_orderkey"), "left")
      .filter(col("l_returnflag") === "R")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    assert(!scansMv2(filtered), "a filter anywhere in the star must refuse")
    // refusal 2: a DIFFERENT dim set (orders only) is a different star
    val oneDim = li.join(or, li("l_orderkey") === or("o_orderkey"), "left")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    assert(!scansMv2(oneDim), "a star missing a registered leg must refuse")
    // refusal 3: a measure over a dim column the MV doesn't store
    val supp = graft.Tables(s, dir, "supplier")
    val badMeasure = li.join(or, li("l_orderkey") === or("o_orderkey"), "left")
      .join(supp, li("l_suppkey") === supp("s_suppkey"), "left")
      .groupBy(col("o_orderpriority")).agg(min(col("s_acctbal")).as("m"))
    assert(!scansMv2(badMeasure), "an unstored measure must stay on the raw join")
  }

  private def scansMv2(df: DataFrame): Boolean = scans(df).exists(_.contains("graft_starmv_"))

  test("opt13: avg derives from sum+count partials; distinct and nullable children refuse") {
    val s = SparkEntry.configure(spark.newSession())
    val df = SparkEntry.queries("opt13_star_mv_avg")(s, dir)
    graft.plans.GraftRules.install(s, graft.plans.MaterializedViewRewrite)
    val paths = scans(df)
    assert(paths.exists(_.contains("graft_starmv_")), s"summary not scanned: $paths")
    assert(!paths.exists(p => p.contains("lineitem") || p.contains("orders") ||
      p.contains("supplier")), s"avg query still scans the star legs: $paths")
    // values equal the rule-off raw join (exact-total division ≡ Average).
    // Built DIRECTLY against the off session — the entry installs the
    // rewrite on its own session clone, so calling the entry with an
    // off parent would compare the rewrite to itself (r15 review).
    val off = SparkEntry.configure(spark.newSession())
    def rawAvg(sess: SparkSession): DataFrame = {
      val li0 = graft.Tables(sess, dir, "lineitem")
      val or0 = graft.Tables(sess, dir, "orders")
      val sp0 = graft.Tables(sess, dir, "supplier")
      li0.join(or0, li0("l_orderkey") === or0("o_orderkey"), "left")
        .join(sp0, li0("l_suppkey") === sp0("s_suppkey"), "left")
        .groupBy(col("o_orderpriority"))
        .agg(avg(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("avg_price"),
          count(lit(1)).as("n_lines"))
        .select(col("o_orderpriority"),
          expr("CAST(floor(avg_price * 1000) AS BIGINT)").as("avg_price_milli"),
          col("n_lines"))
        .orderBy(col("o_orderpriority").asc_nulls_first)
    }
    assert(!scansMv2(rawAvg(off)) && scansFact(rawAvg(off)),
      "off-session control query unexpectedly rewritten — comparison would be vacuous")
    assert(df.collect().toSeq == rawAvg(off).collect().toSeq)
    // refusal: COUNT(DISTINCT) is never derivable from a grouped summary
    val li = graft.Tables(s, dir, "lineitem")
    val or = graft.Tables(s, dir, "orders")
    val supp = graft.Tables(s, dir, "supplier")
    val cd = li.join(or, li("l_orderkey") === or("o_orderkey"), "left")
      .join(supp, li("l_suppkey") === supp("s_suppkey"), "left")
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("l_suppkey")).as("n"))
    assert(!scansMv2(cd) && scansFact(cd),
      "count(distinct) must stay on the raw join — not derivable from a grouped summary")
  }

  test("opt13 soundness: COUNT(*)-backed avg needs the null-free audit") {
    // A star whose fact column v HAS nulls and whose MV stores only
    // sum(v), sum(u), count(*): avg(u) (audited null-free) derives;
    // avg(v) must refuse — dividing sum(v) by COUNT(*) would average
    // nulls in. This is the branch the registration-time audit guards.
    val s = SparkEntry.configure(spark.newSession())
    import s.implicits._
    def salt(tag: String) =
      Scratch.root(s, s"avgaudit_$tag", java.util.UUID.randomUUID().toString.take(8))
    val factDir = salt("fact"); val dimDir = salt("dim"); val mvDir = salt("mv")
    (1 to 60).map(i => (i.toLong % 6, if (i % 5 == 0) None else Some(i.toLong), i.toLong * 2))
      .toDF("fk", "v", "u").write.parquet(factDir)
    (0L to 5L).map(k => (k, s"g${k % 2}")).toDF("k", "grp").write.parquet(dimDir)
    def join(sess: SparkSession) = sess.read.parquet(factDir)
      .join(sess.read.parquet(dimDir), col("fk") === col("k"), "left")
    val defn = join(s).groupBy(col("grp"))
      .agg(sum(col("v")).as("sum_v"), sum(col("u")).as("sum_u"), count(lit(1)).as("cnt"))
    defn.write.parquet(mvDir)
    graft.plans.MaterializedViewRewrite.registerStar(s, defn, mvDir)
    graft.plans.GraftRules.install(s, graft.plans.MaterializedViewRewrite)
    val mvName = new java.io.File(mvDir).getName
    val avgU = join(s).groupBy(col("grp")).agg(avg(col("u")).as("a"))
    assert(scans(avgU).exists(_.contains(mvName)), "audited null-free avg must derive")
    val avgV = join(s).groupBy(col("grp")).agg(avg(col("v")).as("a"))
    assert(!scans(avgV).exists(_.contains(mvName)),
      "avg over a column with nulls must NOT derive from a COUNT(*) partial")
    // and the refused plan still answers correctly (avg skips nulls)
    val offS = SparkEntry.configure(spark.newSession())
    assert(avgV.collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap ==
      join(offS).groupBy(col("grp")).agg(avg(col("v")).as("a"))
        .collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap)
  }

  test("opt10 staleness: a part-file on a DIM leg stands the star rewrite down") {
    val s = SparkEntry.configure(spark.newSession())
    import s.implicits._
    def salt(tag: String) =
      Scratch.root(s, s"starstale_$tag", java.util.UUID.randomUUID().toString.take(8))
    val factDir = salt("fact"); val dimDir = salt("dim"); val mvDir = salt("mv")
    (1 to 60).map(i => (i.toLong % 6, i.toLong)).toDF("fk", "v").write.parquet(factDir)
    (0L to 5L).map(k => (k, s"g${k % 2}")).toDF("k", "grp").write.parquet(dimDir)
    def join(sess: SparkSession) = sess.read.parquet(factDir)
      .join(sess.read.parquet(dimDir), col("fk") === col("k"), "left")
    val defn = join(s).groupBy(col("grp")).agg(sum(col("v")).as("sum_v"), count(lit(1)).as("cnt"))
    defn.write.parquet(mvDir)
    graft.plans.MaterializedViewRewrite.registerStar(s, defn, mvDir)
    graft.plans.GraftRules.install(s, graft.plans.MaterializedViewRewrite)
    def q() = join(s).groupBy(col("grp")).agg(sum(col("v")).as("sv"))
    assert(scans(q()).exists(_.contains(new java.io.File(mvDir).getName)), "must fire when fresh")
    Seq((0L, "g1")).toDF("k", "grp").write.mode("append").parquet(dimDir) // dim grows (dup key!)
    val after = q()
    assert(!scans(after).exists(_.contains(new java.io.File(mvDir).getName)),
      "stale star rewrite fired after dim append")
    val expect = join(SparkEntry.configure(spark.newSession()))
      .groupBy(col("grp")).agg(sum(col("v")).as("sv"))
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(after.collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap == expect)
  }

  test("opt12: filtered star query re-plans onto the summary; non-grouping filters refuse") {
    val s = SparkEntry.configure(spark.newSession())
    val df = SparkEntry.queries("opt12_filtered_star_mv")(s, dir)
    graft.plans.GraftRules.install(s, graft.plans.MaterializedViewRewrite)
    val paths = scans(df)
    assert(paths.exists(_.contains("graft_starmv2_")), s"summary not scanned: $paths")
    assert(!paths.exists(p => p.contains("lineitem") || p.contains("supplier")),
      s"star legs still scanned: $paths")
    def join(): DataFrame = {
      val li = graft.Tables(s, dir, "lineitem")
      val supp = graft.Tables(s, dir, "supplier")
      li.join(supp, li("l_suppkey") === supp("s_suppkey"), "left")
    }
    def mv2(d: DataFrame): Boolean = scans(d).exists(_.contains("graft_starmv2_"))
    // a filter on the OTHER grouping column (the dim one) also derives:
    // the optimizer null-filters supplier and converts the join to
    // INNER, a different shape — so it must simply NOT crash and stay
    // correct; pin only that results match the rule-off run
    val qDim = join().filter(col("s_nationkey") === 3)
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    val off = SparkEntry.configure(spark.newSession())
    def qDimOf(sess: SparkSession): DataFrame = {
      val li = graft.Tables(sess, dir, "lineitem")
      val supp = graft.Tables(sess, dir, "supplier")
      li.join(supp, li("l_suppkey") === supp("s_suppkey"), "left")
        .filter(col("s_nationkey") === 3)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first)
    }
    assert(qDimOf(s).collect().toSeq == qDimOf(off).collect().toSeq)
    // a filter on a NON-grouping fact column must refuse (not derivable)
    val qBad = join().filter(col("l_quantity") > 10)
      .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n"))
    assert(!mv2(qBad), "a non-grouping-column filter must keep the raw join")
    // the admitted filter path: fact grouping column, rolled to the dim attr
    val qGood = join().filter(col("l_returnflag") === "N")
      .groupBy(col("s_nationkey")).agg(sum(expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT)")).as("sp"))
    assert(mv2(qGood), s"fact-grouping-column filter must derive: ${scans(qGood)}")
    def collectM(d: DataFrame) = d.orderBy(col("s_nationkey").asc_nulls_first).collect().toSeq
    val qGoodOff = {
      val li = graft.Tables(off, dir, "lineitem")
      val supp = graft.Tables(off, dir, "supplier")
      li.join(supp, li("l_suppkey") === supp("s_suppkey"), "left")
        .filter(col("l_returnflag") === "N")
        .groupBy(col("s_nationkey")).agg(sum(expr(
          "CAST(round(l_extendedprice * 100) AS BIGINT)")).as("sp"))
    }
    assert(collectM(qGood) == collectM(qGoodOff))
  }

  test("opt11: the refreshed star MV serves the final query; neither fact nor dim scanned") {
    val s = SparkEntry.configure(spark.newSession())
    val df = SparkEntry.queries("opt11_star_mv_refresh")(s, dir)
    val paths = scans(df)
    assert(paths.exists(_.contains("graft_starref_mv2")),
      s"final plan must read the REFRESHED summary: $paths")
    assert(!paths.exists(p => p.contains("graft_starref_fact") || p.contains("supplier")),
      s"fact/dim still scanned after re-registration: $paths")
    // the refresh was genuinely incremental: v1 is the partial fold
    val v1 = s.read.parquet(paths.head.replace("graft_starref_mv2", "graft_starref_mv1")
      .replaceAll("_mv2_", "_mv1_"))
    val v2 = s.read.parquet(paths.find(_.contains("graft_starref_mv2")).get)
    val s1 = v1.agg(sum(col("cnt"))).head().getLong(0)
    val s2 = v2.agg(sum(col("cnt"))).head().getLong(0)
    assert(s1 < s2, s"v1 must be the pre-delta fold only (v1=$s1, v2=$s2)")
  }

  test("inc4: v1 is the full summary; the retraction merge equals recompute-after-delete") {
    import graft.sinks.VersionedTable
    val s = SparkEntry.configure(spark.newSession())
    SparkEntry.queries("inc4_delete_ivm")(s, dir).collect()
    val root = graft.queries.Extras.inc4Root(s, dir)
    assert(VersionedTable.committedVersion(s, root).contains(2L))
    val li = Tables(s, dir, "lineitem")
    def summarize(df: DataFrame) =
      df.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(qtyCents).as("sum_qty_c"), count(lit(1)).as("cnt"))
    val v1 = s.read.parquet(VersionedTable.dataPath(root, 1L)).collect().toSet
    val v2 = s.read.parquet(VersionedTable.dataPath(root, 2L)).collect().toSet
    assert(v1 == summarize(li).collect().toSet, "v1 must be the FULL pre-delete summary")
    assert(v2 == summarize(li.filter(col("l_orderkey") % 11 =!= 0)).collect().toSet,
      "retraction merge must equal the recompute over surviving rows")
    assert(v1 != v2, "the delete set must be non-empty or the pin is vacuous")
  }

  test("inc3: v1 is the pre-delta join; the delta-rule refresh equals the full join") {
    import graft.sinks.VersionedTable
    val s = SparkEntry.configure(spark.newSession())
    SparkEntry.queries("inc3_join_ivm")(s, dir).collect()
    val root = graft.queries.Extras.ivmRoot(s, dir)
    assert(VersionedTable.committedVersion(s, root).contains(2L))
    val li = Tables(s, dir, "lineitem")
    val or = Tables(s, dir, "orders")
    def joinCount(lp: org.apache.spark.sql.Column, op: org.apache.spark.sql.Column): Long =
      li.filter(lp).join(or.filter(op), col("l_orderkey") === col("o_orderkey")).count()
    val partial = joinCount(col("l_orderkey") % 5 =!= 0, col("o_orderkey") % 7 =!= 0)
    val full = joinCount(lit(true), lit(true))
    val v1 = s.read.parquet(VersionedTable.dataPath(root, 1L)).count()
    val v2 = s.read.parquet(VersionedTable.dataPath(root, 2L)).count()
    assert(v1 == partial, "v1 must be the pre-delta join only")
    assert(v2 == full, "the three delta terms must complete the full join")
    assert(v1 < v2, "the deltas must be non-empty or the pin is vacuous")
  }

  test("readVersion time travel reads committed history only; staged data is refused") {
    import graft.sinks.VersionedTable
    val s = SparkEntry.configure(spark.newSession())
    SparkEntry.queries("opt6_mv_refresh")(s, dir).collect()
    val root = graft.queries.Extras.mvRefreshRoot(s, dir)
    assert(VersionedTable.readVersion(s, root, 1L).count() > 0)
    assert(VersionedTable.readVersion(s, root, 2L).count() > 0)
    intercept[IllegalStateException](VersionedTable.readVersion(s, root, 9L))
    // stage v9 WITHOUT committing: still not history
    VersionedTable.stage(s, root, 9L, VersionedTable.read(s, root))
    intercept[IllegalStateException](VersionedTable.readVersion(s, root, 9L))
  }
}
