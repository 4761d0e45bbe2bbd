package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** The one list of graft optimizer rules and planner strategies, and the
  * one route that registers them: [[install]] appends them to a session.
  * `SparkEntry.configure` calls it for every gate, bench, dev and product
  * session (`app.Main` included).
  */
object GraftRules {

  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(
    // first-row-per-key window dedups plan as min_by hash aggregates
    RowNumberDedupRewrite,
    // naive point-in-interval joins plan as binned equi-joins when a
    // session opts in via spark.graft.rangeJoin.binUs (see RangeBinJoin)
    RangeBinJoinRewrite,
    // large literal IN-lists plan as broadcast semi joins (opt-in conf;
    // the gate sessions opt in so opt3 exercises the rewrite — no other
    // entry carries a 256+-element literal list)
    InListToJoinRewrite,
    // COUNT(DISTINCT) plans as the KMV sketch aggregate when a session
    // opts in via spark.graft.approxDistinct (see ApproxDistinctRewrite;
    // exact below k, so the opt4 gate entry hash-matches the exact oracle)
    ApproxDistinctRewrite,
    // aggregates over a registered base table re-plan as roll-ups of its
    // materialized summary when spark.graft.mv.enabled is set (opt5)
    MaterializedViewRewrite,
    // left joins to a VERIFIED-unique key with no right-column references
    // drop entirely when spark.graft.joinElim.enabled is set (opt7)
    JoinEliminationRewrite,
    // fact-side aggregates push below a verified-unique dimension join
    // when spark.graft.eagerAgg.enabled is set (opt8)
    EagerAggregationRewrite,
    // dedups whose keys include a verified primary key drop to a
    // projection when spark.graft.distinctElim.enabled is set (opt14)
    DistinctEliminationRewrite,
    // bounded edit-distance predicates plan as the banded thresholded
    // levenshtein — always on, strictly semantics-preserving (opt17)
    LevenshteinThresholdRewrite)

  // AsOfMergeJoin logical nodes plan as the sort-merge as-of operator
  val strategies: Seq[SparkStrategy] = Seq(AsOfJoinStrategy)

  /** Idempotent: appends each listed rule and strategy the session does
    * not already carry, in list order.
    */
  def install(spark: SparkSession): Unit = {
    val x = spark.experimental
    x.extraOptimizations ++= optimizerRules.filterNot(x.extraOptimizations.contains)
    x.extraStrategies ++= strategies.filterNot(x.extraStrategies.contains)
  }
}
