package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.sweepState` is the between-entry release Bench, Verify and
  * `graft.Dev time|stream` share: everything an entry registered goes,
  * except the SharedFrames blocks other entries read.
  */
class SweepStateSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("sweepState keeps only SharedFrames blocks and empties the cache manager") {
    val shared = SharedFrames.memoize(spark, "spec.sweep")(spark.range(40).toDF("v"))
    val sharedRdd = org.apache.spark.sql.GraftShims.checkpointedRdd(shared).get.id
    val persisted = spark.range(20).toDF("v").persist()
    persisted.count()
    val checkpointed = spark.range(30).toDF("v").localCheckpoint()
    val checkpointRdd = org.apache.spark.sql.GraftShims.checkpointedRdd(checkpointed).get.id
    assert(!spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.contains(checkpointRdd))

    Bench.sweepState(spark)

    assert(spark.sharedState.cacheManager.isEmpty, "a persisted frame survived the sweep")
    val left = spark.sparkContext.getPersistentRDDs.keySet
    assert(!left.contains(checkpointRdd), "a localCheckpoint block survived the sweep")
    assert(left.contains(sharedRdd), "the sweep dropped a SharedFrames block")
    val keep = SharedFrames.protectedRddIds
    assert(left.forall(id => keep.contains(Int.box(id))), s"unprotected RDDs left: $left")
    assert(shared.count() == 40)
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
