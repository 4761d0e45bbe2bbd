package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{GraftRules, InListToJoinRewrite}

/** Plan/semantics pins for the large-IN-list → broadcast semi join
  * optimizer rule (plans.InListToJoinRewrite; opt3 gate entry). The gate
  * hash proves cross-engine semantics; these tests prove the rewrite
  * actually FIRES (a no-op rule would pass the gate too), that the plan
  * is the broadcast semi join shape, and that every guard holds.
  */
class OptimizerInRuleSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** An AQE-off clone of the shared session (plan pins need the
    * executed plan unwrapped), carrying the rule at `threshold` if given.
    */
  private def session(threshold: Option[Int]): org.apache.spark.sql.SparkSession = {
    val s = org.apache.spark.sql.GraftShims.cloneSession(spark)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    threshold.foreach(t => GraftRules.install(s, InListToJoinRewrite(t)))
    s
  }

  private def joins(p: SparkPlan): Seq[BaseJoinExec] =
    p.collect { case j: BaseJoinExec => j }

  test("opt3: a 400-element isin plans as a broadcast LEFT SEMI join, list out of the plan") {
    val df = SparkEntry.queries("opt3_inlist_semijoin")(session(None), dir)
    val plan = df.queryExecution.executedPlan
    val semi = joins(plan).collect {
      case j: BroadcastHashJoinExec if j.joinType.sql == "LEFT SEMI" => j
    }
    assert(semi.nonEmpty, s"no broadcast semi join:\n$plan")
    val str = plan.toString
    assert(!str.contains("InSet") && !str.contains(" IN ("),
      "the literal list still rides inside the plan")
  }

  test("opt3: rewrite-on equals rewrite-off row for row") {
    val caller = session(None)
    val on = SparkEntry.queries("opt3_inlist_semijoin")(caller, dir)
    // the entry's own plan, re-planned on the caller, which lacks the rule
    val off = org.apache.spark.sql.GraftShims.ofRows(caller, on.queryExecution.analyzed)
    assert(joins(off.queryExecution.executedPlan).isEmpty,
      "rule fired on a session without it")
    assert(on.collect().toSeq == off.collect().toSeq)
  }

  test("guards: small lists, null literals, and residual conjuncts") {
    // parquet-backed (a local Seq constant-folds to LocalTableScan and
    // every filter evaporates at optimize time — the known gotcha)
    def li = Tables(session(Some(3)), dir, "lineitem")
    // small list (< threshold): untouched
    assert(joins(li.filter(col("l_partkey").isin(1L, 2L))
      .queryExecution.executedPlan).isEmpty)
    // null in the list: three-valued IN must be left alone
    val withNull = li.filter(expr("l_partkey IN (1, 2, 3, NULL)"))
    assert(joins(withNull.queryExecution.executedPlan).isEmpty)
    assert(withNull.select("l_partkey").distinct().collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // conjunction: IN-leg becomes the join, the residual stays a filter
    val conj = li.filter(col("l_partkey").isin(1L, 2L, 3L, 9L) &&
      col("l_returnflag") =!= "A")
    assert(joins(conj.queryExecution.executedPlan).nonEmpty, "conjunct IN not rewritten")
    val expect = Tables(session(None), dir, "lineitem")
      .filter(col("l_partkey").isin(1L, 2L, 3L, 9L) && col("l_returnflag") =!= "A")
      .collect().toSeq
    assert(conj.collect().toSeq == expect)
  }
}
