package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans._

/** `SparkEntry.configure` is the one setup call on sessions the library
  * did not build (e.g. the benchmark's). Re-running it must neither
  * duplicate a rule nor reset a setting a session pinned.
  */
class GraftRulesSpec extends AnyFunSuite {

  test("configure twice installs each rule once, in order, and keeps a pinned threshold") {
    val s = SharedSpark.spark.newSession()
    SparkEntry.configure(s)
    assert(s.conf.get(InListToJoinRewrite.ThresholdConfKey) == "256")
    s.conf.set(InListToJoinRewrite.ThresholdConfKey, "0")
    SparkEntry.configure(s)
    assert(s.experimental.extraOptimizations == Seq(
      RowNumberDedupRewrite, RangeBinJoinRewrite, InListToJoinRewrite,
      ApproxDistinctRewrite, MaterializedViewRewrite, JoinEliminationRewrite,
      EagerAggregationRewrite, DistinctEliminationRewrite, LevenshteinThresholdRewrite))
    assert(s.experimental.extraOptimizations == GraftRules.optimizerRules)
    assert(s.experimental.extraStrategies == Seq(AsOfJoinStrategy))
    assert(s.conf.get(InListToJoinRewrite.ThresholdConfKey) == "0")
  }

  test("configure is idempotent: a second call, and a call on a clone, change nothing") {
    val s = SharedSpark.spark.newSession()
    SparkEntry.configure(s)
    s.conf.set(InListToJoinRewrite.ThresholdConfKey, "0")
    val (conf, rules, strategies) =
      (s.conf.getAll, s.experimental.extraOptimizations, s.experimental.extraStrategies)
    SparkEntry.configure(s)
    assert(s.conf.getAll == conf)
    assert(s.experimental.extraOptimizations == rules)
    assert(rules.distinct == rules, s"duplicate rules: $rules")
    assert(s.experimental.extraStrategies == strategies)
    assert(s.conf.get(InListToJoinRewrite.ThresholdConfKey) == "0")

    val clone = org.apache.spark.sql.GraftShims.cloneSession(s)
    assert(clone.conf.getAll == conf, "the clone did not start from the caller's confs")
    SparkEntry.configure(clone)
    assert(clone.conf.getAll == conf)
    assert(clone.experimental.extraOptimizations == rules)
    assert(clone.experimental.extraStrategies == strategies)
  }

  test("install appends only what is missing, after what the session already carries") {
    val s = SharedSpark.spark.newSession()
    s.experimental.extraOptimizations = Seq(LevenshteinThresholdRewrite)
    GraftRules.install(s)
    assert(s.experimental.extraOptimizations == LevenshteinThresholdRewrite +:
      GraftRules.optimizerRules.filterNot(_ == LevenshteinThresholdRewrite))
    assert(s.experimental.extraStrategies == GraftRules.strategies)
  }
}
