package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Shared views ([[Scratch.shared]]): a frame several gate entries derive
  * from is built once per (context, dir) as a table and read back by every
  * caller. Pins (1) one build per root, across Bench's between-entry sweep,
  * (2) the build and access counters Bench records, (3) the build's cache
  * released once the table exists, (4) a view built over another view
  * builds each once, (5) a build that threw part-way is rebuilt whole.
  */
class SharedFramesSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  /** A dir no other test shares, so each test's first call builds. */
  private def fresh(): String = java.util.UUID.randomUUID().toString.take(8)

  test("memoize builds once, returns readable frames across Bench-style sweeps") {
    val dir = fresh()
    var builds = 0
    def get() = Scratch.shared(spark, "spec_once", dir) {
      builds += 1
      spark.range(100).toDF("v")
    }
    val a = get()
    assert(builds == 1)
    assert(a.count() == 100)
    val b0 = Scratch.builds
    Bench.sweepState(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty, "the sweep left a persisted RDD")
    val b = get()
    assert(builds == 1, "the sweep dropped the shared view")
    assert(Scratch.builds == b0)
    assert(b.count() == 100, "view unreadable after the sweep")
  }

  test("two calls for one root add one build and two accesses") {
    val dir = fresh()
    val (a0, b0) = (Scratch.accesses, Scratch.builds)
    Scratch.shared(spark, "spec_count", dir)(spark.range(5).toDF("v"))
    Scratch.shared(spark, "spec_count", dir)(spark.range(5).toDF("v"))
    assert(Scratch.builds - b0 == 1)
    assert(Scratch.accesses - a0 == 2)
  }

  test("a persisted builder result is released once its table exists") {
    val built = spark.range(30).toDF("v").persist(StorageLevel.MEMORY_AND_DISK)
    built.count()
    val shared = Scratch.shared(spark, "spec_release", fresh())(built)
    assert(shared.count() == 30)
    assert(built.storageLevel == StorageLevel.NONE,
      "builder's cache copy still held — double materialization")
  }

  test("a view built over another view builds each root once") {
    val dir = fresh()
    var (inner, outer) = (0, 0)
    def base() = Scratch.shared(spark, "spec_inner", dir) {
      inner += 1
      spark.range(10).toDF("v")
    }
    def doubled() = Scratch.shared(spark, "spec_outer", dir) {
      outer += 1
      base().select((col("v") * 2).as("v"))
    }
    assert(doubled().collect().map(_.getLong(0)).sorted.toSeq == (0L until 20L by 2L))
    assert(base().count() == 10 && doubled().count() == 10)
    assert((inner, outer) == (1, 1))
  }

  test("a build that throws after a partial write is rebuilt whole on the next call") {
    val dir = fresh()
    var calls = 0
    def get() = Scratch.shared(spark, "spec_partial", dir) {
      calls += 1
      if (calls == 1) {
        // leave a stray table at the root, then fail as a build would
        spark.range(3).toDF("v")
          .write.parquet(Scratch.root(spark, "spec_partial", dir))
        throw new IllegalStateException("build failed part-way")
      }
      spark.range(100, 140).toDF("v")
    }
    intercept[IllegalStateException](get())
    val rows = get().collect().map(_.getLong(0)).sorted.toSeq
    assert(calls == 2)
    assert(rows == (100L until 140L), "the rebuilt view kept the partial write's rows")
  }
}
