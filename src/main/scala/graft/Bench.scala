package graft
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Each query is executed via a `noop`-format write, not `count()`:
  * under count() Catalyst prunes every unreferenced projection, so
  * scalar-heavy queries would measure little more than a parquet row
  * count (VERDICT r01 "what's wrong" #2). The noop sink consumes every
  * output column row-by-row with zero I/O, so the measured time is the
  * real transform work.
  *
  * Each query runs 3 times ([[Runs]], through [[timeRuns]], the loop
  * `graft.Dev time` shares) and reports the **median**: single-shot
  * numbers billed one-off JIT/codegen/GC to whichever query hit them,
  * inflating the slow tail 10–20× over steady-state (VERDICT r02 "what's
  * wrong" #2). Caches a run registers (e.g. the LSH signature frames)
  * are dropped between runs, so every run measures the full plan, not a
  * warm cache. An entry that measures well past its committed recording
  * is re-timed in a fresh child JVM and gets a verdict (see `main`).
  *
  * Settings: SPARK_GRAFT_SF_DIR (scale directory), SPARK_GRAFT_CPUS
  * (local[n]), SPARK_GRAFT_ONLY (entry filter, [[onlyEntries]]),
  * SPARK_GRAFT_BENCH_BASELINE (the committed recording adjudication
  * reads) and SPARK_GRAFT_BENCH_OUT (the one artifact path, [[artifactPaths]]).
  *
  * Failures are never swallowed into the timing: a failed query gets
  * "err" in the per-query map, is excluded from the total, and flips
  * the exit code to 1.
  */
object Bench {
  /** Release ALL executor-side state a query registered, so the next
    * entry measures under its own memory. `cacheManager.clearCache()`
    * alone is not enough: the graph fixpoints (g2/dd7/pr1) checkpoint
    * into plain persistent RDD blocks that the SQL cache manager never
    * sees, so without the RDD sweep those blocks
    * accumulate across the alphabetical sweep and squeeze the storage/
    * execution memory of every later entry (the round-6 regressed
    * cluster sat right after the checkpoint users). Every persistent RDD
    * goes: a view shared across entries is a table on disk
    * ([[Scratch.shared]]), not blocks. Blocking unpersist so the release
    * is visible to the *next* timed run, not eventual.
    *
    * Callers pass the entry's session (the returned frame's
    * `sparkSession`): an entry runs on its own session clone, and the
    * memory-sink view drop acts on that session only. The cache, the
    * persisted RDDs and the state store are shared by every session of
    * the context. Streams need no stop here: the code that starts a
    * streaming query stops it, and reading `spark.streams` would build a
    * query manager on every swept clone, each adding a listener to the
    * context's bus that nothing removes.
    */
  private[graft] def sweepState(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    // Streaming entries (sw*) leave two kinds of state clearCache never
    // sees, and every later alphabetical entry (tok*, tx*, …) would
    // otherwise measure under it (the r10 driver sweep's >2x cluster sat
    // right after the sw* block): loaded state-store providers — each
    // holds its partition's full last-version key map until the LAZY
    // maintenance thread unloads it — and the memory-sink buffers pinned
    // by the sw*_mem temp views. Drop the sink views, unload the
    // providers eagerly.
    org.apache.spark.sql.GraftShims.dropTempViewsBySuffix(spark, "_mem")
    org.apache.spark.sql.GraftShims.unloadStreamingState()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Absorbs session warmup (codegen compiler, noop sink classloading,
    * parquet footer caches) so it isn't billed to the first query. */
  private[graft] def warmUp(spark: SparkSession): Unit =
    noopWrite(spark.range(100000).select(org.apache.spark.sql.functions.sum("id")))

  /** The measured action (see the object scaladoc), oracle-only top-level sort stripped. */
  private[graft] def noopWrite(df: DataFrame): Unit =
    org.apache.spark.sql.GraftShims.dropTopLevelSort(df)
      .write.format("noop").mode("overwrite").save()

  /** The contract's run count: every entry reports the median of 3. */
  private[graft] val Runs = 3

  /** `use` the frame `query` returns, then [[sweepState]] the frame's
    * session (`spark` when `query` throws): Bench, Verify and
    * `graft.Dev time|stream` run every entry through this.
    */
  private[graft] def swept[A](spark: SparkSession, query: => DataFrame)(use: DataFrame => A): A = {
    var ran = spark
    try {
      val df = query
      ran = df.sparkSession
      use(df)
    } finally sweepState(ran)
  }

  /** The one timing loop (Bench's sweep and `graft.Dev time`): [[Runs]]
    * runs of `query`, each timed from plan construction through the noop
    * write, [[swept]] so the next run (and the next entry) measures the
    * full plan under its own memory. Times come back in run order.
    */
  private[graft] def timeRuns(spark: SparkSession, query: => DataFrame): Seq[Double] =
    Seq.fill(Runs) {
      val t0 = System.nanoTime()
      swept(spark, query) { df => noopWrite(df); (System.nanoTime() - t0) / 1e9 }
    }

  /** The gate entries `SPARK_GRAFT_ONLY` (a comma list) selects for Bench
    * and Verify; None when it is unset, which selects every entry. A name
    * that is not a gate entry, or a list that names none, is refused: it
    * would select nothing, and a run that measured or checked nothing
    * would still exit 0. Both mains call this before a session starts.
    */
  private[graft] def onlyEntries(env: Map[String, String]): Option[Set[String]] =
    env.get("SPARK_GRAFT_ONLY").map { raw =>
      val names = raw.split(',').map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- SparkEntry.queries.keySet
      require(names.nonEmpty, s"SPARK_GRAFT_ONLY names no entry: '$raw'")
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
      names
    }

  /** The files a sweep writes its result line to. `out`
    * (`SPARK_GRAFT_BENCH_OUT`) names the one file, so a scratch sweep
    * writes nowhere else. Otherwise a filtered run writes
    * `bench_only.json` and a run at any scale but sf0.1 writes
    * `bench_full_<sf>.json`: neither may clobber the committed
    * recording. A full sf0.1 run writes that recording,
    * `bench_full.json` (BASELINE.md; the 2x gate reads it), its
    * `bench_summary.json` sidecar and a round-stamped copy
    * `bench_r<N>.json`, N = 1 + the highest `BENCH_r<k>.json` among
    * `cwdFiles` (VERDICT r14 #7): N stays stable within a round, so
    * re-recordings overwrite the same stamped file.
    */
  private[graft] def artifactPaths(out: Option[String], filtered: Boolean, sfName: String,
      cwdFiles: Seq[String]): Seq[String] = {
    val stamp = "BENCH_r(\\d+)\\.json".r
    out match {
      case Some(p) => Seq(p)
      case None if filtered => Seq("bench_only.json")
      case None if sfName != "sf0.1" => Seq(s"bench_full_$sfName.json")
      case None =>
        val maxN = cwdFiles.collect { case stamp(n) => n.toInt }.foldLeft(0)(_ max _)
        Seq("bench_full.json", "bench_summary.json", s"bench_r${maxN + 1}.json")
    }
  }

  /** Bench's last stdout line: the sweep's meta fields, a fixed headline
    * subset of queries (the flagship mart, the TPC-H opener, and one
    * representative per major family) in 3-decimal seconds, and `full`,
    * the file holding the complete line (the first of [[artifactPaths]]).
    */
  private[graft] def shortLine(results: Seq[(String, Either[String, Double])], total: Double,
      sfDir: String, adjJson: String, full: String): String = {
    val headline = Seq(
      "mart_flagship", "mart_flagship_narrow", "q01_pricing_summary",
      "q07_shipping_priority", "dd2_minhash_lsh_pairs", "ann1_topk_exact",
      "ann9_topk_ivfpq", "tx10_tfidf", "tok1_bpe_merges", "sw5_stream_join",
      "pr1_pagerank", "g5_kcore", "mm12_jpeg_decode", "cdc4_scd2_merge",
      "dq12_join_cardinality")
    val byName = results.toMap
    val headQs = headline.flatMap(k => byName.get(k).map {
      case Right(sec) => s""""$k":${f3(sec)}"""
      case Left(err)  => s""""$k":"err:$err""""
    }).mkString("{", ",", "}")
    val failed = results.count(_._2.isLeft)
    s"""{"metric":"total","value":${f3(total)},"unit":"sec","n":${results.size},"failed":$failed,"sf":"$sfDir","queries":$headQs,"adjudication":$adjJson,"full":"$full"}"""
  }

  /** Fresh-JVM mover re-run: spawns ONE child JVM running `graft.Dev
    * time` over all names — same classpath and JVM flags as this one
    * (build.sbt's add-opens, `-D` and `-Xmx`) — and returns each name's
    * median-of-3 (run 1 absorbs session warmup and memo builds, the
    * median discards it). stdout is drained on a daemon thread, so the
    * timed wait can kill a hung child without deadlocking on a full pipe
    * buffer; the timeout scales with the name count. Package-visible so
    * BenchAdjudicationSpec can pin the round trip.
    */
  private[graft] def forkAdjudicate(names: Seq[String], sfDir: String)
      : Map[String, Either[String, Double]] = {
    val javaBin = new java.io.File(sys.props("java.home"), "bin/java").getAbsolutePath
    val jvmFlags = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val cmd = Seq(javaBin) ++ jvmFlags ++
      Seq("-cp", sys.props("java.class.path"), "graft.Dev", "time") ++ names
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
    pb.environment().put("SPARK_GRAFT_CPUS", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    pb.redirectErrorStream(true)
    try {
      val proc = pb.start()
      val out = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val drainer = new Thread(() => {
        scala.io.Source.fromInputStream(proc.getInputStream).getLines()
          .foreach(out.add)
      })
      drainer.setDaemon(true)
      drainer.start()
      val timeoutMin = 20L.max(names.size.toLong / 4)
      val finished = proc.waitFor(timeoutMin, java.util.concurrent.TimeUnit.MINUTES)
      if (!finished) proc.destroyForcibly().waitFor()
      drainer.join(5000)
      val code = if (finished) proc.exitValue() else -1
      val runRe = """^(\S+) run(\d+) ([0-9.]+) s$""".r
      val byName = out.asScala.toList
        .collect { case runRe(n, _, s) => n -> s.toDouble }.groupBy(_._1)
      names.map { n =>
        // a COMPLETE set of runs is required: a child that crashed
        // mid-entry would otherwise hand back run 1 — the warmup-laden
        // measurement the median protocol exists to discard — wearing
        // a valid Right
        n -> byName.get(n).map(_.map(_._2).sorted)
          .filter(ts => ts.size >= Runs && (finished && code == 0))
          .map(ts => Right(median(ts)): Either[String, Double])
          .getOrElse(Left(
            if (!finished) "fork timeout"
            else if (code != 0) s"fork exit $code"
            else "fork produced incomplete timings"))
      }.toMap
    } catch {
      case e: Exception =>
        names.map(_ -> (Left(s"fork: ${e.getClass.getSimpleName}"): Either[String, Double])).toMap
    }
  }

  private def median(ts: Seq[Double]): Double = ts(ts.size / 2) // sorted; upper on even n

  private def f3(d: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  /** `"name":[median,lo,hi]` of sorted run times: a `"spread"` entry. */
  private def spreadEntry(name: String, ts: Seq[Double]): String =
    s""""$name":[${f3(median(ts))},${f3(ts.head)},${f3(ts.last)}]"""

  /** Committed per-entry baseline (the recording this sweep is graded
    * against), read from the artifact path BEFORE this run overwrites
    * it. Absent file / entry → no adjudication for that entry; a file
    * that is not valid JSON → none at all, with a loud warning.
    *
    * Value is (median, hi): `hi` is the committed recording's per-entry
    * max-of-runs from its `"spread"` block when present (r15 VERDICT #7
    * — every adjudication used to compare a point median to a point
    * committed value, so an entry whose committed run happened to catch
    * its own quiet tail re-flagged every noisy sweep). Recordings that
    * predate the spread block fall back to hi = median. The raw max is
    * CLAMPED to 2× the median before use: a single loaded run in the
    * recording window (ann11's committed [0.45, 0.42, 2.62]) would
    * otherwise raise the trigger to 2×hi = 5.8× median and blind the
    * sweep to a genuine 5× regression on that entry (r16 review #1) —
    * the clamp keeps VERDICT #7's fix without importing the outlier.
    */
  private[graft] def readBaseline(path: String): Map[String, (Double, Double)] = {
    val off = "self-adjudication is OFF this sweep"
    val file = new java.io.File(path)
    val rec =
      if (!file.isFile) None
      else try Some(new ObjectMapper().readTree(file))
      catch { case e: java.io.IOException =>
        System.err.println(s"[bench] WARNING: baseline $path is not valid JSON " +
          s"(${e.getClass.getSimpleName}) — $off")
        None
      }
    rec.fold(Map.empty[String, (Double, Double)]) { rec =>
      // {"queries":{"name":sec,...}} — "err:..." string values carry no
      // baseline; {"spread":{"name":[median,lo,hi],...}} supplies hi
      val medians = rec.path("queries").properties.asScala
        .collect { case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble }.toMap
      val his = rec.path("spread").properties.asScala.collect {
        case e if e.getValue.isArray && e.getValue.size == 3 &&
            e.getValue.elements.asScala.forall(_.isNumber) =>
          e.getKey -> e.getValue.get(2).asDouble
      }.toMap
      val parsed = medians.map { case (k, med) =>
        k -> (med, his.getOrElse(k, med).max(med).min(2 * med))
      }
      // A format drift silently disabling self-adjudication for the
      // whole sweep is exactly the failure mode the adjudication exists
      // to catch — make it loud (r14 ADVICE).
      if (parsed.isEmpty)
        System.err.println(s"[bench] WARNING: baseline $path exists but yielded 0 entries — $off")
      parsed
    }
  }

  /** Adjudication trigger (r16 VERDICT #2): ratio gate OR absolute
    * excess. The ratio-only trigger (`> 2×hi`, hi clamped to 2×median)
    * required up to ~4× median before firing, so the round's largest
    * ABSOLUTE mover (sw9, +5.6 s at exactly 2.00× median) escaped
    * un-adjudicated while sub-second entries re-ran for +0.3 s. The OR
    * arm fires on `sweep − hi > max(1 s, hi/2)`: at least a second of
    * real excess, and at least 1.5× hi — so ±30% ambient noise on the
    * multi-second streaming tail doesn't re-adjudicate every sweep, but
    * a multi-second absolute regression always gets a verdict.
    */
  private[graft] def isMover(sweepSec: Double, committedHi: Double): Boolean =
    (sweepSec > 2 * committedHi && sweepSec - committedHi > 0.25) ||
      (sweepSec - committedHi > math.max(1.0, committedHi / 2))

  /** Fixed overhead a fresh JVM pays over the long-lived sweep JVM on
    * one entry: ~0.15 s measured on a 24 ms scan entry (session warmup
    * absorbs the big pieces, per-query codegen/JIT residue remains).
    */
  private val FreshJvmAllowance = 0.5

  /** Explicit per-mover verdict (r16 VERDICT #3): the committed
    * recording is sweep-warmed while the forked adjudicator measures a
    * fresh JVM, so raw forked-vs-committed comparison manufactures
    * borderline "regressed" readings on JIT-heavy entries (the judge's
    * quiet-machine fresh-JVM medians for ir1/sw13 sat above committed
    * hi with unchanged code). The reference is committed hi plus the
    * fresh-JVM allowance, and the verdict applies the SAME mover trigger
    * to the isolated reading: an entry is "regressed" only if its
    * fresh-JVM time would itself be flagged against that reference.
    */
  private[graft] def adjudicationVerdict(isoSec: Double, committedHi: Double): String =
    if (isMover(isoSec, committedHi + FreshJvmAllowance)) "regressed" else "cleared"

  /** Load-canary verdict for the forked isolated pass. Sustained ambient
    * load (other work on the machine at round end) forges the "real
    * regression" signature — isolated ≈ sweep while a quiet re-run later
    * clears the entry (VERDICT r14 #1: five false signatures, all ≤1.8×
    * committed when re-measured). The canary: re-measure a known-stable
    * sub-second sentinel entry FIRST, in the same child; if even the
    * sentinel — whose code cannot have regressed in a way the committed
    * recording didn't see — measures >2× its committed value AND more
    * than the fresh-JVM allowance above it, the window is loaded and
    * every isolated signature in the block is unusable. The absolute
    * floor is the allowance because the fresh-JVM overhead alone is >2×
    * any sub-100 ms sentinel and would otherwise taint every block
    * vacuously; genuine window load inflates the sentinel well past it
    * (the forced-load spec measures 7–8× on CPU-bound work). Pure so the
    * forced-load spec pins it.
    */
  private[graft] def loadTainted(sentinelSec: Double, committedSec: Double): Boolean =
    sentinelSec > 2 * committedSec && sentinelSec - committedSec > FreshJvmAllowance

  /** Sentinel preference order: small, stable, pure-batch entries whose
    * committed times sat under 0.1 s for multiple rounds. First one
    * present in both the query map and the baseline wins.
    */
  private[graft] val SentinelCandidates =
    Seq("yg_hub_states", "f1_filter_eq", "p3_drop_columns")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt // brief: local[32], 32 shuffle partitions
    val only = onlyEntries(sys.env)
    val spark = LocalSession(cpus)
    warmUp(spark)
    val entries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Shared-view markers (VERDICT r18 #1/#8): an entry whose runs read
    // a Scratch.shared view carries its name in the recording's
    // "shared_view_consumers" list, and one whose runs built one also in
    // "shared_view_builders", so adjudication can tell a memo-hit timing
    // from a plan win and the entry that paid a build from its readers.
    // Counter reads sit OUTSIDE the timed loop.
    val sharedViewConsumers = scala.collection.mutable.TreeSet.empty[String]
    val sharedViewBuilders = scala.collection.mutable.TreeSet.empty[String]
    val rawResults: Seq[(String, Either[String, Seq[Double]])] = entries.map { case (name, fn) =>
      val (a0, b0) = (Scratch.accesses, Scratch.builds)
      // sorted runs: median = ts(n/2), spread = (head, last)
      val r = try Right(timeRuns(spark, fn(spark, sfDir)).sorted) catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          Left(e.getClass.getSimpleName)
      }
      if (Scratch.accesses > a0) sharedViewConsumers += name
      if (Scratch.builds > b0) sharedViewBuilders += name
      name -> r
    }
    val results: Seq[(String, Either[String, Double])] =
      rawResults.map { case (n, e) => n -> e.map(median) }
    val failed = results.count(_._2.isLeft)
    // Self-adjudication (VERDICT r13 #1): any entry that measured >2x its
    // committed recording gets an isolated second pass at sweep end.
    // Both numbers go in the JSON so the >2x gate can tell a code
    // regression (isolated ~= sweep, still slow) from sweep-positional
    // noise (isolated ~= baseline). Absolute floor 0.25s so
    // micro-entries' jitter doesn't trigger re-runs. The trigger reads
    // the committed recording's HI (max-of-runs from its spread block),
    // not its point median (r15 VERDICT #7): an entry whose committed
    // median caught its own quiet tail (dd17, 2.19 s committed vs
    // 3.3–3.4 s steady) re-flagged on every noisy sweep.
    val baseline = readBaseline(sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE", "bench_full.json"))
    val movers = results.collect {
      case (name, Right(sec))
        if baseline.get(name).exists { case (_, hi) => isMover(sec, hi) } => name
    }
    // The isolated pass runs in a FRESH forked JVM (graft.Dev time,
    // median-of-3), not this one (r15 VERDICT #1): two rounds in a row a
    // same-JVM isolated pass forged the "real regression" signature
    // (isolated ≈ sweep) on entries a fresh JVM cleared, because it
    // shared the sweep's heap/GC state and wall-clock load. A fresh JVM
    // runs after the sweep's stragglers drain. Load canary (VERDICT r14
    // #1): the sentinel is measured FIRST in the same child, so the block
    // records whether the child's own window was loaded. sentinel is
    // (name, sec, committed) — None when no mover triggered or no
    // candidate is in both the map and the baseline.
    val (adjudication, sentinel) =
      if (movers.isEmpty) (Nil, None)
      else {
        val sentName = SentinelCandidates
          .find(s => SparkEntry.queries.contains(s) && baseline.contains(s))
        val isolated = forkAdjudicate(sentName.toSeq ++ movers, sfDir)
        (movers.map(name => name -> (results.toMap.apply(name).toOption.get -> isolated(name))),
          sentName.map(s => (s, isolated(s), baseline(s)._1)))
      }
    // Fail-safe: when movers were adjudicated but NO canary could run
    // (no candidate present in both the query map and the baseline),
    // the isolated signatures are unguarded — mark the block tainted
    // rather than let load_tainted:false read as a verified-clean
    // window (r15 review).
    val tainted = movers.nonEmpty && (sentinel match {
      case None                               => true
      case Some((_, Left(_), _))              => true // sentinel itself failed: trust nothing
      case Some((_, Right(sec), committed))   => loadTainted(sec, committed)
    })
    val qs = results.map {
      case (k, Right(sec)) => s"\"$k\":$sec"
      case (k, Left(err))  => s"\"$k\":\"err:$err\""
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, Right(sec)) => sec }.sum
    // {"entries":{name:[sweep,isolated,committed,verdict]},"sentinel":
    // [name,sec,committed],"load_tainted":bool,"forked":true} —
    // isolated/sentinel sec may be "err:..." if the re-run failed.
    // load_tainted=true means the sentinel itself inflated >2x its
    // committed value, so every isolated≈sweep signature in this block
    // is forged by ambient load and must not be read as a code
    // regression. "forked" is always true: the isolated pass has one
    // protocol, and recordings since r16 all carry the flag.
    val adjEntries = adjudication.map { case (name, (sweep, iso)) =>
      val isoS = iso.fold(e => s""""err:$e"""", f3)
      // 4th element: the explicit verdict against committed hi + the
      // fresh-JVM allowance — "err" if the isolated re-run failed
      val verdict = iso.fold(_ => "err", adjudicationVerdict(_, baseline(name)._2))
      s""""$name":[${f3(sweep)},$isoS,${f3(baseline(name)._1)},"$verdict"]"""
    }.mkString("{", ",", "}")
    val sentJson = sentinel.map { case (name, sec, committed) =>
      s""""$name",${sec.fold(e => s""""err:$e"""", f3)},${f3(committed)}"""
    }.fold("null")(s => s"[$s]")
    val adjJson =
      s"""{"entries":$adjEntries,"sentinel":$sentJson,"load_tainted":$tainted,"forked":true}"""
    // Per-entry error bars (r15 VERDICT #7): the recording already runs
    // each entry `Runs` times; persist [median, lo, hi] alongside the
    // median-only queries map (which stays scalar — it is the driver's
    // documented stdout contract). readBaseline feeds `hi` to the next
    // sweep's >2x trigger so quiet-window medians stop re-flagging.
    val spreadJson = rawResults.collect { case (k, Right(ts)) => spreadEntry(k, ts) }
      .mkString("{", ",", "}")
    def names(ns: Iterable[String]) = ns.map(n => s""""$n"""").mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spreadJson,"shared_view_consumers":${names(sharedViewConsumers)},"shared_view_builders":${names(sharedViewBuilders)},"sf":"$sfDir","failed":$failed,"adjudication":$adjJson}"""
    // The driver keeps only the last ~2000 stdout chars, and the full
    // per-query map is ~12 KB at 254 entries — it can NEVER fit, which
    // is why BENCH_r*.json carried "parsed": null for twelve rounds
    // (BENCH_r06.json kept only 63 entries). So the complete line goes
    // to the artifact files, which always hold every entry, and stdout
    // ends with the SHORT summary ([[shortLine]]) naming the first one.
    val cwdFiles = Option(new java.io.File(".").list()).toSeq.flatten
    val written = artifactPaths(sys.env.get("SPARK_GRAFT_BENCH_OUT"), only.isDefined,
      new java.io.File(sfDir).getName, cwdFiles)
    written.foreach { p =>
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(p),
        line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable => System.err.println(s"[bench] artifact write failed ($p): $e") }
    }
    // The summary must be the LAST stdout line (ten rounds of the driver
    // reading "parsed": null because shutdown-path WARN logs and the
    // session-stop chatter landed after it): silence logging entirely,
    // stop Spark FIRST, and only then print. The full line goes first
    // (useful in saved logs), the short driver-parsable line goes LAST.
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(line)
    println(shortLine(results, total, sfDir, adjJson, written.head))
    System.out.flush()
    if (failed > 0) sys.exit(1)
  }
}
