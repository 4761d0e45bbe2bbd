package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Pins Bench's self-adjudication load canary (VERDICT r14 #1).
  *
  * Ambient load in the adjudication window forges the "real regression"
  * signature (isolated ≈ sweep) on entries whose code never changed —
  * r14 had five such false signatures, all cleared by a quiet re-run.
  * The canary re-measures a known-stable sentinel first, in the same
  * forked child as the movers, and stamps the whole block
  * `load_tainted` when even the sentinel inflates >2x its committed
  * value by more than the 0.5 s fresh-JVM allowance. Two pins here:
  *
  *  1. the taint predicate's exact semantics (ratio gate AND absolute
  *     floor, so fresh-JVM overhead on a ~50 ms sentinel can't taint);
  *  2. the MECHANISM under real forced load — burn 6x-nproc spin
  *     threads, re-measure the same CPU-bound job, and assert the
  *     inflation trips the predicate exactly as a loaded window would.
  */
class BenchAdjudicationSpec extends AnyFunSuite {

  test("loadTainted: ratio gate with absolute floor") {
    // steady sentinel: no taint
    assert(!Bench.loadTainted(0.046, 0.046))
    // under 2x: no taint even with large absolute diff
    assert(!Bench.loadTainted(1.9, 1.0))
    // over 2x but inside the 0.5 s floor — no taint
    // (0.45 > 2 * 0.05 but the delta is only 0.4)
    assert(!Bench.loadTainted(0.45, 0.05))
    // the r14 false-signature shape: a sub-second sentinel blown to
    // multiples of committed → taint
    assert(Bench.loadTainted(1.0, 0.046))
    // boundary: exactly 2x never taints (gate is strict >)
    assert(!Bench.loadTainted(2.0, 1.0))
    // just past both gates
    assert(Bench.loadTainted(0.65, 0.1))
  }

  test("loadTainted fork mode: fresh-JVM overhead on a tiny sentinel doesn't taint") {
    // the r16 forced-mover drill: a 24 ms sentinel reads ~0.18 s in a
    // fresh child JVM (fixed codegen/JIT residue) — >2x committed but
    // NOT window load; the 0.5 s floor absorbs it
    assert(!Bench.loadTainted(0.18, 0.024))
    // genuine load lands a fresh-JVM sentinel far past the floor
    assert(Bench.loadTainted(1.2, 0.024))
    // a multi-second sentinel under real load trips too
    assert(Bench.loadTainted(3.0, 1.0))
  }

  test("isMover: ratio gate OR absolute excess (r16 VERDICT #2)") {
    // the classic ratio trigger still fires
    assert(Bench.isMover(1.5, 0.4)) // 3.75x, +1.1 s
    assert(!Bench.isMover(0.12, 0.05)) // >2x but micro-jitter (+0.07 s)
    assert(!Bench.isMover(1.9, 1.0)) // under 2x, under the absolute arm
    // the two r16 escapees now trigger:
    // sw9's shape — exactly 2.00x median with a multi-second excess
    assert(Bench.isMover(11.19, 5.6), "a +5.6 s mover must not escape at 2.00x")
    // ir1's shape — 3x median excess hidden under a wide hi
    assert(Bench.isMover(2.91, 1.575), "+1.3 s over a 1.6 s hi must trigger")
    // but ambient +-30% noise on the slow streaming tail does NOT
    // re-adjudicate every sweep: +1.3 s on a 6.2 s entry is under hi/2
    assert(!Bench.isMover(7.5, 6.2))
    // and the absolute arm needs at least a real second
    assert(!Bench.isMover(1.9, 0.95))
  }

  test("adjudicationVerdict: like-for-like reference (r16 VERDICT #3)") {
    // the 0.5 s fresh-JVM allowance rides on committed hi: the judge's
    // ir1 measurement (2.18 fresh vs 1.575 committed hi) is exactly the
    // borderline that must NOT read as a regression
    assert(Bench.adjudicationVerdict(2.18, 1.575) == "cleared")
    assert(Bench.adjudicationVerdict(6.0, 1.575) == "regressed")
  }

  test("sentinel candidates are real gate entries") {
    // The canary is only as good as its sentinel: every candidate must
    // exist in the query map, or a rename silently downgrades the
    // canary to the next candidate (or to nothing).
    Bench.SentinelCandidates.foreach { s =>
      assert(SparkEntry.queries.contains(s), s"sentinel candidate $s is not a gate entry")
    }
  }

  test("forced load trips the taint predicate") {
    val spark = SharedSpark.spark
    import spark.implicits._
    // A CPU-bound job sized to ~0.3-1.5 s unloaded on local[2], so under
    // the ~7x forced inflation the 0.5 s absolute floor is cleared and
    // the ratio gate decides. Same measurement discipline as Bench:
    // median of 3.
    def measure(): Double = {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.range(0, 3000000, 1, 2)
          .select(sum(length(sha2(concat(lit("x"), $"id".cast("string")), 256))))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      times(1)
    }
    measure() // absorb codegen/JIT warmup outside both measurements
    val unloaded = measure()
    // 6x oversubscription: CFS fair-shares largely ignore thread
    // priority, so 3x gave only ~3x inflation against the >2x gate — a
    // margin GC pauses or a cgroup quota could erase (r15 review). 6x
    // puts the expected inflation at ~7x.
    val burners = java.lang.Runtime.getRuntime.availableProcessors() * 6
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val threads = (1 to burners).map { _ =>
      val t = new Thread(() => {
        var x = 0L
        while (!stop.get()) { x += 1; if (x == Long.MaxValue) x = 0 }
      })
      t.setDaemon(true); t.setPriority(Thread.MAX_PRIORITY); t.start(); t
    }
    try {
      val loaded = measure()
      info(f"unloaded=$unloaded%.3f s loaded=$loaded%.3f s (${loaded / unloaded}%.1fx, $burners burn threads)")
      assert(Bench.loadTainted(loaded, unloaded),
        f"forced load only inflated ${loaded / unloaded}%.2fx — canary would miss a loaded window")
      // and the converse: an unloaded re-measure of itself must not taint
      assert(!Bench.loadTainted(unloaded, unloaded))
    } finally {
      stop.set(true)
      threads.foreach(_.join(1000))
    }
  }
  test("readBaseline: spread hi feeds the trigger, legacy recordings fall back to median") {
    // r15 VERDICT #7: the >2x trigger must read committed hi (max-of-
    // runs), not the point median, so a quiet-window median (dd17:
    // 2.19 s committed vs 3.3-3.4 s steady) stops re-flagging every
    // noisy sweep. Pin: (a) spread hi is parsed and paired with the
    // median; (b) a pre-spread recording falls back to hi = median;
    // (c) a spread hi below the median (impossible from sorted runs,
    // but a hand-edited file could carry one) is clamped up to median.
    val f = java.nio.file.Files.createTempFile("bench_base", ".json")
    val h = java.nio.file.Files.createTempFile("bench_spike", ".json")
    val g = java.nio.file.Files.createTempFile("bench_legacy", ".json")
    try {
      val txt = """{"metric":"total","value":9.9,"unit":"sec",""" +
        """"queries":{"a_fast":0.10,"b_noisy":2.19,"c_err":"err:Boom"},""" +
        """"spread":{"a_fast":[0.10,0.09,0.12],"b_noisy":[2.19,2.10,3.40],"weird":[1.0,0.5,0.4]},""" +
        """"sf":"/x","failed":0}"""
      java.nio.file.Files.write(f, txt.getBytes("UTF-8"))
      val base = Bench.readBaseline(f.toString)
      assert(base("a_fast") == (0.10, 0.12))
      assert(base("b_noisy") == (2.19, 3.40)) // hi absorbs the honest tail
      assert(!base.contains("c_err")) // err entries carry no baseline
      // (d) a load-spike outlier in the recording window must not blind
      // the trigger: hi clamps to 2x median (r16 review #1 — ann11's
      // committed [0.45, 0.42, 2.62] would otherwise set the trigger at
      // 5.8x median)
      java.nio.file.Files.write(h,
        ("""{"metric":"total","queries":{"spiky":0.453},""" +
          """"spread":{"spiky":[0.453,0.420,2.615]},"sf":"/x"}""").getBytes("UTF-8"))
      assert(Bench.readBaseline(h.toString)("spiky") == (0.453, 0.906))
      // legacy format (no spread block): hi = median
      java.nio.file.Files.write(g,
        """{"metric":"total","queries":{"a":1.5,"b":0.2},"sf":"/x"}""".getBytes("UTF-8"))
      val legacy = Bench.readBaseline(g.toString)
      assert(legacy("a") == (1.5, 1.5) && legacy("b") == (0.2, 0.2))
    } finally Seq(f, h, g).foreach(p => org.apache.spark.sql.GraftShims.deleteRecursively(p.toFile))
  }

  test("forkAdjudicate round-trips a real entry through a fresh JVM") {
    // smallest stable entries: one fast scan-shaped query keeps the
    // forked session's wall time to startup + a few hundred ms
    val out = Bench.forkAdjudicate(Seq("yg_hub_states"), "/root/testdata/sf0.001")
    out("yg_hub_states") match {
      case Right(sec) => assert(sec > 0.0 && sec < 60.0, s"implausible fork timing $sec")
      case Left(err)  => fail(s"fork failed: $err")
    }
    // an unknown entry surfaces as an error, not an exception
    val bad = Bench.forkAdjudicate(Seq("no_such_entry"), "/root/testdata/sf0.001")
    assert(bad("no_such_entry").isLeft)
  }
}
