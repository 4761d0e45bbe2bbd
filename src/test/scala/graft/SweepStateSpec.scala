package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.sweepState` is the between-entry release Bench, Verify and
  * `graft.Dev time|stream` share: everything an entry registered in
  * executor storage goes, with no exemption. A view other entries read
  * is a table ([[Scratch.shared]]) and survives it.
  */
class SweepStateSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("sweepState drops every persisted RDD and empties the cache manager") {
    val dir = java.util.UUID.randomUUID().toString.take(8)
    val shared = Scratch.shared(spark, "spec_sweep", dir)(spark.range(40).toDF("v"))
    val persisted = spark.range(20).toDF("v").persist()
    persisted.count()
    val checkpointed = spark.range(30).toDF("v").localCheckpoint()
    val checkpointRdd = org.apache.spark.sql.GraftShims.checkpointedRdd(checkpointed).get.id
    assert(!spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.contains(checkpointRdd))
    val builds = Scratch.builds

    Bench.sweepState(spark)

    assert(spark.sharedState.cacheManager.isEmpty, "a persisted frame survived the sweep")
    val left = spark.sparkContext.getPersistentRDDs.keySet
    assert(left.isEmpty, s"persisted RDDs left: $left")
    assert(shared.count() == 40)
    assert(Scratch.shared(spark, "spec_sweep", dir)(spark.range(0).toDF("v")).count() == 40)
    assert(Scratch.builds == builds, "the sweep forced a shared view to rebuild")
  }

  test("timeRuns sweeps the entry's own session: no memory-sink view, no active stream") {
    var df: org.apache.spark.sql.DataFrame = null
    Bench.timeRuns(spark, {
      df = SparkEntry.queries("sw2_stream_hourly")(spark, "/root/testdata/sf0.001")
      df
    })
    assert(df.sparkSession ne spark)
    val views = df.sparkSession.catalog.listTables().collect().map(_.name)
    assert(!views.exists(_.endsWith("_mem")), s"memory-sink views left: ${views.mkString(", ")}")
    assert(df.sparkSession.streams.active.isEmpty)
  }

  test("timeRuns over a non-streaming entry adds no streaming listener to the context's bus") {
    val sc = spark.sparkContext
    def buses = org.apache.spark.ListenerBusProbe.streamingListenerBuses(sc)
    val before = buses
    Bench.timeRuns(spark, SparkEntry.queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001"))
    assert(buses == before, s"${buses - before} streaming listener buses added")
  }
}
