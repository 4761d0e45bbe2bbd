package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** SharedFrames: cross-entry memoized materialized views. Pins the three
  * properties Bench's exemption logic depends on: (1) one build per key,
  * (2) blocks survive a Bench-style sweep that unpersists everything
  * except the protected ids, (3) a frame whose blocks WERE dropped is
  * transparently rebuilt, not returned dead.
  */
class SharedFramesSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("memoize builds once, returns readable frames across Bench-style sweeps") {
    var builds = 0
    def get() = SharedFrames.memoize(spark, "spec.once") {
      builds += 1
      spark.range(100).toDF("v")
    }
    val a = get()
    assert(builds == 1)
    assert(a.count() == 100)
    Bench.sweepState(spark) // must NOT drop the shared blocks
    val b = get()
    assert(builds == 1, "sweep dropped the shared frame — exemption broken")
    assert(b.count() == 100, "frame unreadable after sweep")
  }

  test("a dropped shared frame is rebuilt, not returned dead") {
    var builds = 0
    def get() = SharedFrames.memoize(spark, "spec.rebuild") {
      builds += 1
      spark.range(50).toDF("v")
    }
    val a = get()
    assert(builds == 1)
    // simulate an external sweep that ignores the protection list
    org.apache.spark.sql.GraftShims.checkpointedRdd(a)
      .foreach(_.unpersist(blocking = true))
    val b = get()
    assert(builds == 2, "dead checkpoint returned instead of rebuilding")
    assert(b.count() == 50)
  }

  test("a persisted builder result is released once the checkpoint copy exists") {
    val built = spark.range(30).toDF("v").persist(StorageLevel.MEMORY_AND_DISK)
    built.count()
    val shared = SharedFrames.memoize(spark, "spec.release")(built)
    assert(shared.count() == 30)
    assert(built.storageLevel == StorageLevel.NONE,
      "builder's cache copy still held — double materialization")
    SharedFrames.releaseAll(spark)
  }
}
