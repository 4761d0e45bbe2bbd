package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** The graft optimizer rules and planner strategies every configured
  * session carries, and the one route that registers rules: [[install]]
  * appends them to a session. `SparkEntry.configure` installs the
  * always-on set on every gate, bench, dev and product session
  * (`app.Main` included); a gate entry that exercises an opt-in rewrite
  * installs it on its own session clone.
  */
object GraftRules {

  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(
    // first-row-per-key window dedups plan as min_by hash aggregates
    RowNumberDedupRewrite,
    // bounded edit-distance predicates plan as the banded thresholded
    // levenshtein — strictly semantics-preserving (opt17)
    LevenshteinThresholdRewrite)

  // AsOfMergeJoin logical nodes plan as the sort-merge as-of operator
  val strategies: Seq[SparkStrategy] = Seq(AsOfJoinStrategy)

  /** Idempotent: appends each of `rules` the session does not already
    * carry, in order, after the rules it carries. Without `rules` it
    * adds the always-on set: [[optimizerRules]] and [[strategies]].
    */
  def install(spark: SparkSession, rules: Rule[LogicalPlan]*): Unit = {
    val x = spark.experimental
    val (add, strats) = if (rules.isEmpty) (optimizerRules, strategies) else (rules, Nil)
    x.extraOptimizations ++= add.filterNot(x.extraOptimizations.contains)
    x.extraStrategies ++= strats.filterNot(x.extraStrategies.contains)
  }
}
