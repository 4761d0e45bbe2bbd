package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** priv1 k-anonymity audit: the gate hash proves the census values;
  * these pin the census arithmetic and — on a crafted registry — that
  * the k_anonymous flag actually FLIPS when every quasi-identifier
  * group reaches k (the fixture corpus never satisfies k=5, so the
  * gate alone would leave the positive branch untested).
  */
class PrivacyAuditSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("census arithmetic: totals, suppression bounds, diversity bounds") {
    val s = SparkEntry.configure(spark.newSession())
    val rows = SparkEntry.queries("priv1_k_anonymity")(s, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, g, m, sup, l) = (r.getAs[Long]("n_rows"), r.getAs[Long]("n_groups"),
        r.getAs[Long]("min_group"), r.getAs[Long]("suppressed_rows"), r.getAs[Long]("l_div_min"))
      assert(g <= n && m >= 1 && sup <= n && l >= 1 && l <= m,
        s"inconsistent census row: $r")
      assert(r.getAs[Boolean]("k_anonymous") == (m >= 5))
    }
    assert(rows.map(_.getAs[Long]("n_rows")).sum == Tables(s, dir, "customer").count())
  }

  test("the k_anonymous flag flips on a registry where every group reaches k") {
    val s = SparkEntry.configure(spark.newSession())
    import s.implicits._
    val tmp = SharedSpark.scratchDir("priv1_anon")
    // one QI group of 5 identical-QI rows (nat 1, seg T, balances all in
    // the same kilodollar bucket but with 5 DISTINCT cents values), plus
    // a second segment with a singleton group for the negative branch
    val rows = (1 to 5).map(i => (i.toLong, s"n$i", 1, 1000.0 + i, "T")) :+
      ((9L, "n9", 2, 2000.0, "U"))
    rows.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    val out = SparkEntry.queries("priv1_k_anonymity")(s, tmp).collect()
      .map(r => r.getAs[String]("seg") -> r).toMap
    val t5 = out("T")
    assert(t5.getAs[Long]("n_groups") == 1L && t5.getAs[Long]("min_group") == 5L)
    assert(t5.getAs[Boolean]("k_anonymous"), "a full k-group must pass the audit")
    assert(t5.getAs[Long]("suppressed_rows") == 0L)
    assert(t5.getAs[Long]("l_div_min") == 5L, "five distinct sensitive values")
    val u1 = out("U")
    assert(!u1.getAs[Boolean]("k_anonymous") && u1.getAs[Long]("suppressed_rows") == 1L)
  }

  test("priv2 ladder picks the least-general fixing level; hopeless segments suppress") {
    val s = SparkEntry.configure(spark.newSession())
    import s.implicits._
    val tmp = SharedSpark.scratchDir("priv2_ladder")
    // seg A: five rows sharing the FULL level-0 QI (same nation, same
    // kilodollar bucket) — level 0 already reaches k, so generalizing
    // further would be pure information loss; seg B: three rows total,
    // no level can reach k = 5 — the honest all-suppressed fallback
    val rows = (1 to 5).map(i => (i.toLong, s"a$i", 1, 1500.0 + i, "A")) ++
      (6 to 8).map(i => (i.toLong, s"b$i", i, 1000.0 * i, "B"))
    rows.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    val out = SparkEntry.queries("priv2_generalization")(s, tmp).collect()
      .map(r => r.getAs[String]("seg") -> r).toMap
    val a = out("A")
    assert(a.getAs[Long]("chosen_level") == 0L, "level 0 already k-anonymous")
    assert(a.getAs[Long]("min_group") == 5L && a.getAs[Long]("suppressed_rows") == 0L)
    val b = out("B")
    assert(b.getAs[Long]("chosen_level") == -1L, "3 rows can never reach k = 5")
    assert(b.getAs[Long]("suppressed_rows") == 3L && b.getAs[Long]("n_groups") == 0L)
    // real-corpus sanity at the GATE scale (sf0.001 is too small for an
    // interior level): the corpus picks one — the full QI fails,
    // segment-only is never needed — so the ladder's decision is
    // non-degenerate in both directions
    val real = SparkEntry.queries("priv2_generalization")(s, "/root/testdata/sf0.01").collect()
    assert(real.forall(r => r.getAs[Long]("chosen_level") >= 1L),
      "full QI unexpectedly k-anonymous on the fixture corpus")
    assert(real.exists(r => r.getAs[Long]("chosen_level") <= 2L),
      "no segment fixed before the degenerate segment-only level")
  }
}
