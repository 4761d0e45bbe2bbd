package graft

import org.apache.spark.sql.GraftShims
import org.scalatest.funsuite.AnyFunSuite

import graft.plans._

/** Each `SparkEntry.queries` call runs on its own configured clone of the
  * caller's session: the entry starts from the caller's confs and rules
  * and keeps what it sets and installs to itself.
  */
class EntryScopeSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private val Aqe = "spark.sql.adaptive.enabled"

  test("entries inherit the caller's AQE-off and leave the caller's confs unchanged") {
    val caller = GraftShims.cloneSession(SharedSpark.spark)
    caller.conf.set(Aqe, "false")
    val before = caller.conf.getAll
    val entries = Seq("opt4_approx_distinct", "sj4_skew_join", "opt7_join_elim",
      "sw11_tws_hourly")
    val sessions = entries.map { name =>
      val df = SparkEntry.queries(name)(caller, dir)
      assert(df.sparkSession ne caller, s"$name ran on the caller's session")
      name -> df.sparkSession
    }.toMap
    assert(caller.conf.getAll == before, "an entry changed the caller's confs")
    // sj4 turns AQE on for its own skew split
    Seq("opt4_approx_distinct", "opt7_join_elim", "sw11_tws_hourly").foreach { name =>
      assert(sessions(name).conf.get(Aqe) == "false",
        s"$name did not inherit the caller's AQE-off")
    }
    assert(sessions("sj4_skew_join").conf.get(Aqe) == "true")
    sessions.values.foreach(Bench.sweepState)
  }

  test("opt-in rewrites ride with their entry: the caller's rules stay, the entry's follow them") {
    val caller = GraftShims.cloneSession(SharedSpark.spark)
    val before = caller.experimental.extraOptimizations
    val own = Seq(
      "opt2_range_bin_auto" -> Seq(RangeBinJoinRewrite(2L * 3600 * 1000000)),
      "opt3_inlist_semijoin" -> Seq(InListToJoinRewrite(256)),
      "opt4_approx_distinct" -> Seq(ApproxDistinctRewrite()),
      "opt5_mv_rewrite" -> Seq(MaterializedViewRewrite),
      "opt7_join_elim" -> Seq(JoinEliminationRewrite))
    own.foreach { case (name, rules) =>
      val entry = SparkEntry.queries(name)(caller, dir).sparkSession
      assert(entry.experimental.extraOptimizations == before ++ rules, name)
      assert(caller.experimental.extraOptimizations == before, s"$name changed the caller's rules")
      Bench.sweepState(entry)
    }
  }
}
