package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** er1 entity resolution: the gate hash proves the census values; these
  * pin what the hash can't see — the candidate stage is never all-pairs
  * (no cartesian / nested-loop join), the census arithmetic is
  * internally consistent, and the packed-integer argmin resolves ties
  * deterministically toward the smaller clean id (proven on a crafted
  * registry where two records' corrupted twins are equidistant from
  * both originals, so exactly one of the two resolutions is correct).
  */
class EntityResolveSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("census is consistent and the candidate stage is never all-pairs") {
    val s = SparkEntry.configure(spark.newSession())
    val df = SparkEntry.queries("er1_entity_resolution")(s, dir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nd, nc, nm, ok) = (r.getAs[Long]("n_dirty"), r.getAs[Long]("n_candidates"),
        r.getAs[Long]("n_matched"), r.getAs[Long]("n_correct"))
      assert(ok <= nm && nm <= nd && nc >= nm, s"census inconsistent: $r")
    }
    val total = rows.map(_.getAs[Long]("n_dirty")).sum
    val nCustomers = Tables(s, dir, "customer").count()
    assert(total == nCustomers, "every dirty record must appear in exactly one segment")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "candidate generation must stay an equi-join on the block key")
  }

  test("packed argmin breaks score ties toward the smaller clean id (crafted registry)") {
    val s = SparkEntry.configure(spark.newSession())
    import s.implicits._
    // keys 0 and 8 both perturb position 11, and the two names differ
    // ONLY there — so both corrupted twins are the same string, each at
    // distance 1 from BOTH originals: a perfect tie. The argmin must
    // resolve both to clean id 0, making exactly one resolution correct.
    val tmp = SharedSpark.scratchDir("er1_tie")
    Seq(
      (0L, "AAAAAAAAAAZAAAAAAA", 1, 500.25, "T"),
      (8L, "AAAAAAAAAAYAAAAAAA", 1, 500.75, "T"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    val out = SparkEntry.queries("er1_entity_resolution")(s, tmp).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("seg") == "T")
    assert(r.getAs[Long]("n_dirty") == 2L)
    assert(r.getAs[Long]("n_candidates") == 4L, "each twin must see both originals")
    assert(r.getAs[Long]("n_matched") == 2L)
    assert(r.getAs[Long]("n_correct") == 1L,
      "tie-break must send both twins to clean id 0 — one right, one wrong")
    assert(r.getAs[Long]("precision_milli") == 500L)
    assert(r.getAs[Long]("recall_milli") == 500L)
  }

  test("er2: survivorship census is consistent and a triple elects the registry row") {
    val s = SparkEntry.configure(spark.newSession())
    val rows = SparkEntry.queries("er2_golden_record")(s, dir).collect()
    assert(rows.nonEmpty)
    val nCustomers = Tables(s, dir, "customer").count()
    assert(rows.map(_.getAs[Long]("n_records")).sum == 3 * nCustomers,
      "every source row must land in exactly one cluster")
    rows.foreach { r =>
      val (nc, t3, s1, g) = (r.getAs[Long]("n_clusters"), r.getAs[Long]("n_triples"),
        r.getAs[Long]("n_singletons"), r.getAs[Long]("golden_from_registry"))
      assert(t3 + s1 <= nc && g <= nc, s"inconsistent survivorship row: $r")
      assert(t3 > 0, "no full triple recovered — the match graph is broken")
    }
  }

  test("er2: two ambiguous registry twins merge into one 6-cluster electing the min id") {
    val s = SparkEntry.configure(spark.newSession())
    import s.implicits._
    val tmp = SharedSpark.scratchDir("er2_merge")
    // same block, names within distance 1 of each other — all six
    // source rows (2 registry + 4 corrupted) glue into ONE component
    Seq(
      (0L, "AAAAAAAAAAZAAAAAAA", 1, 700.25, "T"),
      (8L, "AAAAAAAAAAYAAAAAAA", 1, 700.75, "T"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    val out = SparkEntry.queries("er2_golden_record")(s, tmp).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_records") == 6L && r.getAs[Long]("n_clusters") == 1L)
    assert(r.getAs[Long]("n_triples") == 0L && r.getAs[Long]("n_singletons") == 0L)
    assert(r.getAs[Long]("golden_from_registry") == 1L,
      "the merged cluster must elect registry id 0")
  }
}
