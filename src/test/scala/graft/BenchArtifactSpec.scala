package graft

import org.scalatest.funsuite.AnyFunSuite

/** Where a Bench sweep writes its result line ([[Bench.artifactPaths]]):
  * only a full sf0.1 run touches the committed recording, and an explicit
  * `SPARK_GRAFT_BENCH_OUT` is the one file a run writes.
  */
class BenchArtifactSpec extends AnyFunSuite {
  private val cwd = Seq("BENCH_r07.json", "BENCH_r19.json", "BENCH_r19_c8.json",
    "bench_r20.json", "bench_full.json")

  test("an override is the only file, whatever the run") {
    val out = Some("/tmp/scratch/sweep.json")
    for (filtered <- Seq(false, true); sf <- Seq("sf0.1", "sf0.01"))
      assert(Bench.artifactPaths(out, filtered, sf, cwd) == Seq("/tmp/scratch/sweep.json"))
  }

  test("a filtered run writes bench_only.json, at any scale") {
    assert(Bench.artifactPaths(None, filtered = true, "sf0.1", cwd) == Seq("bench_only.json"))
    assert(Bench.artifactPaths(None, filtered = true, "sf0.01", cwd) == Seq("bench_only.json"))
  }

  test("an off-scale run writes its own suffixed recording") {
    assert(Bench.artifactPaths(None, filtered = false, "sf0.01", cwd) ==
      Seq("bench_full_sf0.01.json"))
  }

  test("a full sf0.1 run writes the recording, its summary and the next round stamp") {
    assert(Bench.artifactPaths(None, filtered = false, "sf0.1", cwd) ==
      Seq("bench_full.json", "bench_summary.json", "bench_r20.json"))
    assert(Bench.artifactPaths(None, filtered = false, "sf0.1", Nil) ==
      Seq("bench_full.json", "bench_summary.json", "bench_r1.json"))
  }
}
