package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans._

/** `SparkEntry.configure` is the one setup call on sessions the library
  * did not build (e.g. the benchmark's): it installs the always-on rules
  * and nothing else, and re-running it must neither duplicate a rule nor
  * reset a setting a session pinned. Opt-in rewrites are installed by
  * the entries that exercise them, with their parameters checked at
  * construction.
  */
class GraftRulesSpec extends AnyFunSuite {

  test("configure installs only the always-on rules, once, and sets no spark.graft conf") {
    val s = SharedSpark.spark.newSession()
    SparkEntry.configure(s)
    SparkEntry.configure(s)
    assert(s.experimental.extraOptimizations ==
      Seq(RowNumberDedupRewrite, LevenshteinThresholdRewrite))
    assert(s.experimental.extraOptimizations == GraftRules.optimizerRules)
    assert(s.experimental.extraStrategies == Seq(AsOfJoinStrategy))
    val graftConfs = s.conf.getAll.keys.filter(_.startsWith("spark.graft."))
    assert(graftConfs.isEmpty, s"configure set $graftConfs")
  }

  test("configure is idempotent: a second call, and a call on a clone, change nothing") {
    val s = SharedSpark.spark.newSession()
    SparkEntry.configure(s)
    val (conf, rules, strategies) =
      (s.conf.getAll, s.experimental.extraOptimizations, s.experimental.extraStrategies)
    SparkEntry.configure(s)
    assert(s.conf.getAll == conf)
    assert(s.experimental.extraOptimizations == rules)
    assert(rules.distinct == rules, s"duplicate rules: $rules")
    assert(s.experimental.extraStrategies == strategies)

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
    val always = s.experimental.extraOptimizations
    GraftRules.install(s, MaterializedViewRewrite, JoinEliminationRewrite)
    GraftRules.install(s, JoinEliminationRewrite, InListToJoinRewrite(256))
    GraftRules.install(s, InListToJoinRewrite(256))
    assert(s.experimental.extraOptimizations == always ++
      Seq(MaterializedViewRewrite, JoinEliminationRewrite, InListToJoinRewrite(256)))
    assert(s.experimental.extraStrategies == GraftRules.strategies)
  }

  test("rule parameters are checked at construction") {
    val refusals = Seq(
      "bin width" -> (() => RangeBinJoinRewrite(0L)),
      "threshold" -> (() => InListToJoinRewrite(-1)),
      "sketch size" -> (() => ApproxDistinctRewrite(1)))
    refusals.foreach { case (what, build) =>
      val e = intercept[IllegalArgumentException](build())
      assert(e.getMessage.contains(what), s"$what: ${e.getMessage}")
    }
    assert(ApproxDistinctRewrite().k == graft.functions.NdvSketch.DefaultK)
  }
}
