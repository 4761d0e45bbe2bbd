package etlbench

import org.scalatest.funsuite.AnyFunSuite

/** The output check against `Pipeline.run` itself, over the tiny shape. */
class CheckSpec extends AnyFunSuite {

  for (sink <- Seq("parquet", "jdbc"))
    test(s"the workspace's expectations match what Pipeline.run loads ($sink)") {
      val bench = TestSession.bench(seed = 5, shape = Shape.tiny.copy(sink = sink))
      val e = bench.ws.expect
      assert(e.lostRows > 0 && e.rows > e.distinctTasks) // the traps reach the mart
      val r = bench.run(None)
      assert(r.ok)
      assert(r.rows == e.rows)
      assert(bench.failed == 0)
      assert(bench.run(None).ok) // the second run also matches the first run's content hash
    }

  test("a deliberately wrong expectation fails the run loudly") {
    val bench = TestSession.bench(seed = 5, ws => ws.expect.copy(quantityPlanTenths = ws.expect.quantityPlanTenths + 1))
    val r = bench.run(None)
    assert(!r.ok)
    assert(bench.failed == 1 && bench.attempted == 1)
  }

  test("the verdict names every mismatch") {
    val e = Expect(rows = 10, distinctTasks = 4, distinctPairs = 10, lostRows = 1, quantityPlanTenths = 123)
    val good = MartStats(10, 4, 10, 1, 123, "h")
    assert(Check.verdict(e, good, alertFired = true, returned = 10, refHash = Some("h")).isEmpty)
    val bad = Check.verdict(e, good.copy(rows = 11, lostRows = 0, hash = "x"), alertFired = false,
      returned = 11, refHash = Some("h"))
    assert(bad.size == 5, bad) // rows, returned count, lost rows, alert, hash
  }
}
