package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** [[Scratch]]'s build-once key: one build per (context, tag, dir), in
  * the context's own temp dir, and a build that threw runs again.
  */
class ScratchSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  /** Every file under `root`, relative path -> mtime. */
  private def stamps(root: File): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(root).map(f => root.toPath.relativize(f.toPath).toString -> f.lastModified()).toMap
  }

  test("a scratch entry builds once per context and dir, in the context's temp dir") {
    val s = SparkEntry.configure(spark)
    val entry = SparkEntry.queries("dpp1_partition_pruned_join")
    val small = "/root/testdata/sf0.001"
    entry(s, small).collect()
    val root = new File(queries.Extras.dppRoot(s, small))
    assert(root.getParentFile == new File(org.apache.spark.SparkFiles.getRootDirectory()),
      s"$root is not in the context's temp dir")
    val built = stamps(root)
    assert(built.keys.exists(_.endsWith(".parquet")), s"no layout under $root")
    entry(s, small).collect()
    assert(stamps(root) == built, "the second call in one context rebuilt the root")
    val other = "/root/testdata/sf0.01"
    entry(s, other).collect()
    val otherRoot = new File(queries.Extras.dppRoot(s, other))
    assert(otherRoot != root && stamps(otherRoot).keys.exists(_.endsWith(".parquet")),
      "another dir must build its own root")
    assert(stamps(root) == built, "building another dir touched the first root")
  }

  test("a build that threw runs again on the next call") {
    val dir = java.util.UUID.randomUUID().toString
    var runs = 0
    intercept[IllegalStateException] {
      Scratch.once(spark, "spec_retry", dir) { _ => runs += 1; throw new IllegalStateException("boom") }
    }
    val root = Scratch.once(spark, "spec_retry", dir) { _ => runs += 1 }
    assert(Scratch.once(spark, "spec_retry", dir) { _ => runs += 1 } == root)
    assert(runs == 2, s"build ran $runs times")
  }
}
