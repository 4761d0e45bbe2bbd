package graft

import org.scalatest.funsuite.AnyFunSuite

/** Where a Bench sweep writes its result line ([[Bench.artifactPaths]]):
  * only a full sf0.1 run touches the committed recording, and an explicit
  * `SPARK_GRAFT_BENCH_OUT` is the one file a run writes. The last stdout
  * line ([[Bench.shortLine]]) names the first of those files.
  */
class BenchArtifactSpec extends AnyFunSuite {
  private val cwd = Seq("BENCH_r07.json", "BENCH_r19.json", "BENCH_r19_c8.json",
    "bench_r20.json", "bench_full.json")

  test("an override is the only file, whatever the run") {
    val out = Some("runs/sweep.json")
    for (filtered <- Seq(false, true); sf <- Seq("sf0.1", "sf0.01"))
      assert(Bench.artifactPaths(out, filtered, sf, cwd) == Seq("runs/sweep.json"))
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

  test("the last line names the file the sweep wrote, and parses") {
    val results = Seq("mart_flagship" -> Right(1.25), "q01_pricing_summary" -> Left("boom"),
      "not_a_headline" -> Right(2.0))
    def raw(out: Option[String], filtered: Boolean, sf: String) =
      Bench.shortLine(results, 3.25, sf, "{}",
        Bench.artifactPaths(out, filtered, sf, cwd).head)
    def full(out: Option[String], filtered: Boolean, sf: String) =
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(raw(out, filtered, sf))
        .get("full").asText
    assert(full(Some("runs/sweep.json"), filtered = true, "sf0.01") ==
      "runs/sweep.json")
    assert(full(None, filtered = true, "sf0.1") == "bench_only.json")
    assert(full(None, filtered = false, "sf0.01") == "bench_full_sf0.01.json")
    assert(full(None, filtered = false, "sf0.1") == "bench_full.json")
    val line = raw(None, filtered = false, "sf0.1")
    assert(line.contains(""""n":3,"failed":1,"""), line)
    assert(line.contains(""""queries":{"mart_flagship":1.250,"q01_pricing_summary":"err:boom"}"""),
      line)
  }
}
