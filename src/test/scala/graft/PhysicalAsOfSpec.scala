package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AsOfJoin
import graft.plans.AsOfMerge

/** The custom physical as-of operator (plans/AsOfMergeJoin): the gate
  * hash-proves aj4 against DuckDB; this spec pins what the hash can't —
  * that the plan really runs AsOfMergeJoinExec (not some other join),
  * that the merge equals the union+window spelling row-for-row on real
  * data, and the edge semantics (ties, null key/ts lefts, keyless
  * partitions, equal timestamps) on a hand-built multi-partition frame.
  */
class PhysicalAsOfSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def ts(s: String) = Timestamp.valueOf(s)

  test("aj4 plan contains the custom exec, which executes under AQE too") {
    val s = SparkEntry.configure(spark)
    // AQE wraps the tree in an unexecuted AdaptiveSparkPlan whose
    // subtree collect{} can't see (the bkt1/dd10 pin convention) — pin
    // the node with AQE off, then separately prove the AQE-on run
    // EXECUTES (zipPartitions survives AQE's per-stage planning).
    val prev = s.conf.get("spark.sql.adaptive.enabled")
    try {
      s.conf.set("spark.sql.adaptive.enabled", "false")
      val df = SparkEntry.queries("aj4_asof_exec")(s, dir)
      val found = df.queryExecution.executedPlan.exists(
        _.isInstanceOf[graft.plans.AsOfMergeJoinExec])
      assert(found, s"custom exec missing:\n${df.queryExecution.executedPlan}")
    } finally s.conf.set("spark.sql.adaptive.enabled", prev)
    assert(SparkEntry.queries("aj4_asof_exec")(s, dir).count() > 0) // AQE on
  }

  test("custom exec equals the union+window spelling on events x orders") {
    val s = SparkEntry.configure(spark)
    val ev = Tables(s, dir, "events").select("event_id", "user_id", "ts")
    val ord = Tables(s, dir, "orders")
    def run(f: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        String, String, String, String, String, Seq[String]) => org.apache.spark.sql.DataFrame) =
      f(ev, ord, "user_id", "o_custkey", "ts", "o_orderdate", "o_orderkey",
        Seq("o_orderkey", "o_totalprice"))
        .orderBy(col("event_id").asc_nulls_first).collect().toSeq
    assert(run(AsOfMerge.leftAsOf) == run(AsOfJoin.leftAsOf))
  }

  test("edge semantics on a hand-built multi-partition frame") {
    import spark.implicits._
    // left: includes a null key, a null ts, a key with no rights, and
    // two rows at the same (key, ts)
    val left = Seq(
      (1L, Option(10L), Option(ts("2024-01-01 10:00:00"))),
      (2L, Option(10L), Option(ts("2024-01-01 12:00:00"))),
      (3L, Option(10L), Option(ts("2024-01-01 12:00:00"))),
      (4L, Option(10L), None), // null ts → null payload
      (5L, None, Option(ts("2024-01-01 12:00:00"))), // null key → null payload
      (6L, Option(20L), Option(ts("2024-01-01 12:00:00"))), // no rights for 20
      (7L, Option(30L), Option(ts("2024-01-01 09:00:00"))) // rights only AFTER
    ).toDF("id", "k", "t").repartition(7)
    // right: key 10 has a tie at 11:00 (ids 101/102 — largest must win)
    // and a later row at 13:00 that must NOT match 12:00 lefts; key 30
    // only has a row after every left ts; plus an unmatchable null-ts row
    val right = Seq(
      (100L, Option(10L), Option(ts("2024-01-01 09:00:00")), "early"),
      (101L, Option(10L), Option(ts("2024-01-01 11:00:00")), "tie-small"),
      (102L, Option(10L), Option(ts("2024-01-01 11:00:00")), "tie-large"),
      (103L, Option(10L), Option(ts("2024-01-01 13:00:00")), "future"),
      (104L, Option(30L), Option(ts("2024-01-01 10:00:00")), "late-only"),
      (105L, Option(10L), None, "null-ts")
    ).toDF("rid", "rk", "rt", "v").repartition(5)
    val out = AsOfMerge.leftAsOf(left, right, "k", "rk", "t", "rt", "rid", Seq("rid", "v"))
      .orderBy("id").collect()
      .map(r => r.getAs[Long]("id") ->
        (Option(r.getAs[java.lang.Long]("asof_rid")).map(_.toLong), r.getAs[String]("asof_v"))).toMap
    assert(out(1L) == (Some(100L), "early")) // only 09:00 at-or-before 10:00
    assert(out(2L) == (Some(102L), "tie-large")) // tie at 11:00 → largest rid
    assert(out(3L) == (Some(102L), "tie-large")) // same (key, ts) left twin agrees
    assert(out(4L) == (None, null))
    assert(out(5L) == (None, null))
    assert(out(6L) == (None, null))
    assert(out(7L) == (None, null)) // 10:00 right is AFTER the 09:00 left
  }

  test("exec matches the window spelling under forced multi-partition skew") {
    import spark.implicits._
    // 500 lefts over 7 keys (one hot), 200 rights — cross-check whole frame
    val left = (0 until 500).map(i =>
      (i.toLong, (if (i % 10 < 7) 1L else (i % 10).toLong),
        ts(f"2024-01-01 ${i % 24}%02d:${i % 60}%02d:00"))).toDF("id", "k", "t")
      .repartition(13)
    val right = (0 until 200).map(i =>
      (1000L + i, (i % 12).toLong, ts(f"2024-01-01 ${(i * 7) % 24}%02d:${(i * 3) % 60}%02d:30"), i * 1.5))
      .toDF("rid", "rk", "rt", "x").repartition(5)
    val a = AsOfMerge.leftAsOf(left, right, "k", "rk", "t", "rt", "rid", Seq("rid", "x"))
      .orderBy("id").collect().toSeq
    val b = AsOfJoin.leftAsOf(left, right, "k", "rk", "t", "rt", "rid", Seq("rid", "x"))
      .orderBy("id").collect().toSeq
    assert(a == b)
  }
}
