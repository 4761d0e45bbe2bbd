package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Catalog-staleness pins for the opt5/opt7/opt8 rule family
  * (VERDICT r13 #2): registration-time trust is keyed on the base
  * scan's FILE-LISTING FINGERPRINT, so a table that grows after
  * registration makes every rewrite stand down — the query runs
  * un-rewritten (correct, just unoptimized) instead of answering from
  * a summary/constraint that never saw the new rows.
  */
class StalenessSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  /** A fresh dir in the shared session's scratch, deleted at JVM exit. */
  private def tmp(tag: String): String =
    Scratch.root(spark, s"stale_$tag", java.util.UUID.randomUUID().toString.take(8))

  private def scans(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten

  test("MV rewrite stands down after a part-file lands on the base path") {
    val s = SparkEntry.configure(spark.newSession())
    import s.implicits._
    val baseDir = tmp("mvbase")
    val mvDir = tmp("mvsum")
    (1 to 100).map(i => (s"g${i % 4}", i.toLong)).toDF("g", "v")
      .repartition(2).write.parquet(baseDir)
    val base = s.read.parquet(baseDir)
    val mvDf = base.groupBy(col("g")).agg(sum(col("v")).as("sum_v"), count(lit(1)).as("cnt"))
    mvDf.write.parquet(mvDir)
    graft.plans.MaterializedViewRewrite.register(s, base, mvDf, mvDir)
    graft.plans.GraftRules.install(s, graft.plans.MaterializedViewRewrite)

    def q(): DataFrame = // fresh read → fresh listing on every call
      s.read.parquet(baseDir).groupBy(col("g")).agg(sum(col("v")).as("sv"))
    assert(scans(q()).exists(_.contains("mvsum")), "rewrite must fire while the listing matches")
    val before = q().collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // a late-arriving part-file: same schema, new rows
    Seq(("g0", 1000000L)).toDF("g", "v").write.mode("append").parquet(baseDir)

    val after = q()
    assert(!scans(after).exists(_.contains("mvsum")),
      s"STALE rewrite fired after base-path append: ${scans(after)}")
    assert(scans(after).exists(_.contains("mvbase")), "query must fall back to the base scan")
    val got = after.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("g0") == before("g0") + 1000000L, "the un-rewritten answer must see the new rows")

    // re-registering over the new listing restores the rewrite
    val base2 = s.read.parquet(baseDir)
    val mvDir2 = tmp("mvsum")
    val mvDf2 = base2.groupBy(col("g")).agg(sum(col("v")).as("sum_v"), count(lit(1)).as("cnt"))
    mvDf2.write.parquet(mvDir2)
    graft.plans.MaterializedViewRewrite.register(s, base2, mvDf2, mvDir2)
    assert(scans(q()).exists(_.contains("mvsum")), "re-registration must re-arm the rewrite")
    assert(q().collect().map(r => r.getString(0) -> r.getLong(1)).toMap == got)
  }

  test("star registration refuses a grouping name that exists on two legs (ambiguous bind)") {
    val s = SparkEntry.configure(spark.newSession())
    import s.implicits._
    val factDir = tmp("ambfact"); val dimDir = tmp("ambdim")
    (1 to 20).map(i => (i.toLong % 4, s"fx$i", i.toLong)).toDF("k", "x", "v")
      .write.parquet(factDir)
    (0L to 3L).map(k => (k, s"dx$k")).toDF("dk", "x").write.parquet(dimDir)
    val fact = s.read.parquet(factDir)
    val dim = s.read.parquet(dimDir)
    val defn = fact.join(dim, fact("k") === dim("dk"), "left")
      .groupBy(dim("x")) // name `x` exists on BOTH legs — by-name matching would mis-bind
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("cnt"))
    // two refusal layers may fire: Spark's own analyzer (AMBIGUOUS_
    // REFERENCE on the definition plan) or, if the plan analyzes,
    // registerStar's referenced-name guard — either way an
    // ambiguous-name star can never enter the catalog
    val ex = intercept[Exception] {
      graft.plans.MaterializedViewRewrite.registerStar(s, defn, tmp("ambmv"))
    }
    assert(ex.isInstanceOf[IllegalArgumentException] ||
      ex.isInstanceOf[org.apache.spark.sql.AnalysisException], ex.toString)
    assert(ex.getMessage.toLowerCase.contains("ambiguous"), ex.getMessage)
  }

  test("verified-unique constraint expires with the listing: join elimination stands down") {
    val s = SparkEntry.configure(spark.newSession())
    import s.implicits._
    val factDir = tmp("fact")
    val dimDir = tmp("dim")
    (1 to 50).map(i => (i.toLong % 5, i.toLong)).toDF("fk", "m").write.parquet(factDir)
    (0L to 4L).map(k => (k, s"name$k")).toDF("k", "nm").write.parquet(dimDir)
    assert(graft.plans.TableConstraints.registerUnique(s, s.read.parquet(dimDir), "k"))
    graft.plans.GraftRules.install(s, graft.plans.JoinEliminationRewrite)

    def q(): DataFrame =
      s.read.parquet(factDir).join(s.read.parquet(dimDir), col("fk") === col("k"), "left")
        .groupBy(col("fk")).agg(sum(col("m")).as("sm"))
    assert(!scans(q()).exists(_.contains("dim")), "join must be eliminated while listing matches")

    // append a DUPLICATE key — uniqueness no longer holds on the union
    Seq((0L, "dup")).toDF("k", "nm").write.mode("append").parquet(dimDir)
    val after = q()
    assert(scans(after).exists(_.contains("dim")),
      "constraint must not be trusted against a grown listing")
    // and the kept join is the correct (duplicating) answer
    val noRule = SparkEntry.configure(spark.newSession())
    val expect = noRule.read.parquet(factDir)
      .join(noRule.read.parquet(dimDir), col("fk") === col("k"), "left")
      .groupBy(col("fk")).agg(sum(col("m")).as("sm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expect)

    // re-audit over the grown listing refuses (duplicate) — nothing re-registered
    assert(!graft.plans.TableConstraints.registerUnique(s, s.read.parquet(dimDir), "k"))
    assert(scans(q()).exists(_.contains("dim")))
  }
}
