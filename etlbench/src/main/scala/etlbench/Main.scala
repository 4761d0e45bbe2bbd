package etlbench

import java.nio.file.{Files, Path, Paths}
import java.sql.{DriverManager, SQLException}
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, EtlBenchAccess, SparkSession}
import graft.SparkEntry
import graft.sinks.{Alerter, JdbcSink, MartSink, ParquetSink}
import graft.yougile._

/** The benchmark process: one workload, one seed, closed loop, one
  * `Pipeline.run` at a time. `etlbench/run.py` launches it; see
  * `etlbench/README.md` for the metrics and the phases.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace 0|1
  *             --work <dir> --cores <n>
  * It prints `READY <epoch us>` once the session is configured and the page
  * server listens (the end of set-up), and `RESULT <json>` at the end.
  */
object Main {
  val RunTs = "2026-01-01 00:00:00"
  /** A run longer than this leaves too little of the process budget. */
  val ProcessBudgetS = 140.0

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val work = Paths.get(opts("--work")).toAbsolutePath
    val cores = opts.getOrElse("--cores", "4").toInt
    val spark = session(cores, work)
    val server = new PageServer
    println(s"READY ${Tracer.nowUs}")
    try {
      val ws = new Workspace(Shape.named(opts("--workload")), opts("--seed").toLong)
      val bench = new Bench(spark, server, ws, opts("--seconds").toDouble, cores, work, ws.expect)
      val out = if (opts("--trace") == "1") bench.traced() else bench.untraced()
      println("RESULT " + new ObjectMapper().writeValueAsString(out))
    } finally {
      server.stop()
      spark.stop()
    }
  }

  /** The product's session: `SparkEntry.configure` over a local session,
    * with every temporary directory inside the benchmark's work dir.
    */
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("etlbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    SparkEntry.configure(s)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it, as
    * (value, percentile); below eleven samples, the maximum.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size <= 10) (s.last, 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }
}

/** Where one run loads the mart: a fresh in-memory Derby database through
  * the production [[JdbcSink]], or a fresh directory through
  * [[ParquetSink]]. Dropped after the check.
  */
sealed trait Target {
  def sink: MartSink
  /** Reads the loaded mart back and summarises it for the check. */
  def readBack(spark: SparkSession): MartStats
  def drop(): Unit
}

/** Read back over plain JDBC on the driver: the check stays small next to
  * the run it checks.
  */
final class DerbyTarget(n: Int) extends Target {
  private val db = s"memory:etlbench$n"
  val sink = new JdbcSink(s"jdbc:derby:$db;create=true", "cdm_tasks", "app", "app")
  def readBack(spark: SparkSession): MartStats = {
    val conn = DriverManager.getConnection(s"jdbc:derby:$db")
    try {
      val rs = conn.createStatement().executeQuery("SELECT * FROM cdm_tasks")
      val md = rs.getMetaData
      val cols = (1 to md.getColumnCount).map(i => md.getColumnName(i).toLowerCase)
      val index = cols.zipWithIndex.toMap
      val rows = Iterator.continually(rs.next()).takeWhile(identity).map { _ =>
        val vals = cols.indices.map(i => Option(rs.getString(i + 1)))
        (c: String) => vals(index(c))
      }
      Check.stats(rows, cols)
    } finally conn.close()
  }
  def drop(): Unit =
    try DriverManager.getConnection(s"jdbc:derby:$db;drop=true").close()
    catch { case e: SQLException if e.getSQLState == "08006" => () } // Derby's "dropped"
}

final class ParquetTarget(dir: Path) extends Target {
  val sink = new ParquetSink(dir.toString)
  def readBack(spark: SparkSession): MartStats = {
    val df = spark.read.parquet(dir.toString)
    val index = df.columns.zipWithIndex.toMap
    val rows = df.collect().iterator.map(r => (c: String) => Option(r.get(index(c))).map(_.toString))
    Check.stats(rows, df.columns.toSeq)
  }
  def drop(): Unit = if (Files.exists(dir)) {
    val files = Files.walk(dir)
    try files.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally files.close()
  }
}

/** One workload in one process; every run is checked against `expect`. */
final class Bench(spark: SparkSession, server: PageServer, val ws: Workspace,
    seconds: Double, cores: Int, work: Path, expect: Expect) {
  import Main.{median, tail}

  private val startNs = System.nanoTime()
  private def elapsedS: Double = (System.nanoTime() - startNs) / 1e9
  private val shape = ws.shape

  ws.pages
  server.load(ws)
  val cfg: YouGileConfig = ws.config(server.baseUrl)
  HeapWatch.install

  private var runN = 0
  private var refHash: Option[String] = None
  var attempted = 0
  var failed = 0

  case class Run(seconds: Double, rows: Long, requests: Long, ok: Boolean,
      startUs: Long, endUs: Long, limiterWaitMs: Long, served: PageServer.Counts,
      client: Option[TracedClient], heapPeakBytes: Long)

  private def newTarget(n: Int): Target = shape.sink match {
    case "jdbc"    => new DerbyTarget(n)
    case "parquet" => new ParquetTarget(work.resolve("out").resolve(s"run$n"))
  }

  /** One timed `Pipeline.run` into a fresh target, then the output check
    * outside the timed region. With a tracer, the client, sink and
    * alerter are wrapped in the pass-through decorators.
    */
  def run(tracer: Option[Tracer]): Run = {
    runN += 1
    attempted += 1
    val target = newTarget(runN)
    val alerts = new CaptureAlerter
    var waitedMs = 0L
    val limiter = new RateLimiter(cfg.minRequestIntervalMs,
      sleep = ms => { waitedMs += ms; Thread.sleep(ms) })
    val bare = new HttpYouGileClient(cfg, limiter)
    val traced = tracer.map(new TracedClient(bare, _))
    val client: YouGileClient = traced.getOrElse(bare)
    val sink = tracer.fold(target.sink)(new TracedSink(target.sink, _))
    val alerter: Alerter = tracer.fold[Alerter](alerts)(new TracedAlerter(alerts, _))
    tracer.foreach(_.run = runN)

    // every run starts from a collected heap, so garbage left by the
    // previous run and its check neither slows it nor sets its heap peak
    System.gc()
    val before = server.counts
    val heapFrom = HeapWatch.uptimeMs
    val t0 = System.nanoTime()
    val startUs = Tracer.nowUs
    val result =
      try Right(tracer.fold(Pipeline.run(spark, client, cfg, Main.RunTs, sink, alerter))(
        _.span("run")(Pipeline.run(spark, client, cfg, Main.RunTs, sink, alerter))))
      catch { case e: Exception => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val endUs = Tracer.nowUs
    val heapTo = HeapWatch.uptimeMs
    val served = server.counts - before

    val problems = (if (served.failed > 0) Seq(s"${served.failed} requests asked for no served page")
      else Nil) ++ (result match {
      case Left(e) => Seq(s"Pipeline.run threw ${e.getClass.getName}: ${e.getMessage}")
      case Right(returned) =>
        try {
          val got = target.readBack(spark)
          val fired = alerts.take().contains(Pipeline.DataLossAlert)
          val p = Check.verdict(expect, got, fired, returned, refHash)
          if (refHash.isEmpty) refHash = Some(got.hash)
          p
        } catch { case e: Exception => Seq(s"read-back failed: ${e.getMessage}") }
    })
    target.drop()
    if (problems.nonEmpty) {
      failed += 1
      System.err.println(s"[etlbench] RUN $runN FAILED THE OUTPUT CHECK:\n  " + problems.mkString("\n  "))
    }
    Run(secs, result.getOrElse(-1L), served.requests, problems.isEmpty, startUs, endUs, waitedMs,
      served, traced, HeapWatch.peakBetween(heapFrom, heapTo))
  }

  private def log(msg: String): Unit = System.err.println(f"[etlbench] $elapsedS%7.2f s: $msg")

  /** End-to-end metrics: a cold run, then warm runs for `seconds`, at
    * least two.
    */
  def untraced(): java.util.Map[String, Any] = {
    val cold = run(None)
    log(f"cold run ${cold.seconds}%.3f s, ${cold.rows} rows, ${cold.requests} requests, " +
      f"heap peak ${cold.heapPeakBytes / 1048576}%d MB")
    val warm = mutable.ArrayBuffer.empty[Run]
    val loopStart = elapsedS
    while (warm.size < 2 || (elapsedS - loopStart < seconds && elapsedS < Main.ProcessBudgetS)) {
      warm += run(None)
      log(f"warm run ${warm.last.seconds}%.3f s, heap peak ${warm.last.heapPeakBytes / 1048576}%d MB")
    }
    val times = warm.map(_.seconds).toSeq
    val p50 = median(times)
    val (tailV, tailP) = tail(times)
    val rows = warm.last.rows.toDouble
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("cold_run_s", cold.seconds)
    out.put("warm_run_s.p50", p50)
    out.put("warm_run_s.tail", tailV)
    out.put("warm_run_s.tail_percentile", tailP)
    out.put("warm_runs", warm.size)
    out.put("mart_rows_per_s", rows / p50)
    out.put("mart_rows", rows)
    out.put("api_requests", median(warm.map(_.requests.toDouble).toSeq))
    out.put("api_requests_distinct", (cold +: warm).map(_.requests).distinct.size)
    out.put("driver_heap_peak_mb", median((cold +: warm).map(_.heapPeakBytes / 1048576.0).toSeq))
    out.put("run_ok_ratio", (attempted - failed).toDouble / attempted)
    out.put("run_fail_ratio", failed.toDouble / attempted)
    out.put("attempted", attempted)
    out.put("failed", failed)
    out
  }

  // ------------------------------------------------------------- traced
  /** Per-layer metrics: untraced and traced warm runs alternate, then the
    * extraction pass and the transform stage pass run under the tracer.
    */
  def traced(): java.util.Map[String, Any] = {
    val tracer = new Tracer
    val collector = new SparkCollector
    run(None) // cold
    val plain = mutable.ArrayBuffer.empty[Run]
    val tracedRuns = mutable.ArrayBuffer.empty[(Run, Map[String, Double])]
    val loopStart = elapsedS
    while (tracedRuns.size < 2 ||
        (elapsedS - loopStart < seconds && elapsedS < Main.ProcessBudgetS / 2)) {
      // the order flips every pair, so warm-up left in the early runs
      // does not land on one side of the overhead
      val plainFirst = tracedRuns.size % 2 == 0
      if (plainFirst) plain += run(None)
      spark.sparkContext.addSparkListener(collector)
      val r = run(Some(tracer))
      EtlBenchAccess.drainListeners(spark)
      spark.sparkContext.removeSparkListener(collector)
      tracedRuns += r -> runMetrics(r, tracer, collector)
      if (!plainFirst) plain += run(None)
      log(f"untraced ${plain.last.seconds}%.3f s, traced ${r.seconds}%.3f s")
    }
    val out = new java.util.LinkedHashMap[String, Any]()
    tracedRuns.head._2.keys.toSeq.sorted.foreach { k =>
      out.put(k, median(tracedRuns.map(_._2(k)).toSeq))
    }
    val tracedP50 = median(tracedRuns.map(_._1.seconds).toSeq)
    val plainP50 = median(plain.map(_.seconds).toSeq)
    out.put("trace.warm_run_s.p50", tracedP50)
    out.put("trace.untraced_warm_run_s.p50", plainP50)
    out.put("trace.overhead_s", tracedP50 - plainP50)

    spark.sparkContext.addSparkListener(collector)
    stagePass(tracer, collector).foreach { case (k, v) => out.put(k, v) }
    spark.sparkContext.removeSparkListener(collector)

    val layers = out.keySet().toArray.map(_.toString).filter(_.startsWith("self_s."))
    val dominant = layers.maxBy(k => out.get(k).asInstanceOf[Double]).stripPrefix("self_s.")
    val stages = out.keySet().toArray.map(_.toString)
      .filter(k => k.startsWith("transform.") && k.endsWith("_s"))
    val dominantStage = stages.maxBy(k => out.get(k).asInstanceOf[Double])
    out.put("dominant_layer", dominant)
    out.put("dominant_transform_stage", dominantStage)
    out.put("attempted", attempted)
    out.put("failed", failed)
    writeSpans(tracer)
    out
  }

  private val layerOf = Map("run" -> "pipeline", "client.fetch" -> "client",
    "spark.job" -> "spark", "sink.write" -> "sink", "alert" -> "alert")

  /** Per-layer numbers of one traced run, read from its spans, the page
    * server and the Spark listener.
    */
  private def runMetrics(r: Run, tracer: Tracer, collector: SparkCollector): Map[String, Double] = {
    val jobs = collector.jobsBetween(r.startUs / 1000, r.endUs / 1000 + 1)
    jobs.foreach { j =>
      tracer.adopt("spark.job", j.startMs * 1000 + 500, math.max(j.endMs, j.startMs) * 1000 + 500,
        runN, Map("tasks" -> j.tasks.toDouble, "shuffle_write_bytes" -> j.shuffleWrite.toDouble))
    }
    val spans = tracer.spans.filter(_.run == runN)
    val root = spans.find(_.name == "run").get
    val self = Tracer.selfTimeUs(root, spans)
    val sinkSpan = spans.find(_.name == "sink.write")
    def inSink(j: collector.Job) =
      sinkSpan.exists(s => j.startMs * 1000 + 500 >= s.startUs && j.startMs * 1000 + 500 <= s.endUs)
    val sinkJobs = jobs.filter(inSink)
    val c = r.client.get
    val wall = r.seconds
    val cpuS = jobs.map(_.cpuNs).sum / 1e9
    val m = mutable.LinkedHashMap[String, Double](
      "client.requests" -> c.requests.get.toDouble,
      "client.bytes" -> r.served.bytes.toDouble,
      "client.busy_s" -> c.busyNs.get / 1e9,
      "client.req_ms.p50" -> median(c.requestNs.map(_ / 1e6).toSeq),
      "client.failed" -> c.failed.get.toDouble,
      "limiter.wait_s" -> r.limiterWaitMs / 1e3,
      "paginator.pages_empty" -> r.served.empty.toDouble,
      "pipeline.spark_jobs" -> jobs.size.toDouble,
      "pipeline.spark_stages" -> jobs.map(_.stages).sum.toDouble,
      "pipeline.spark_tasks" -> jobs.map(_.tasks).sum.toDouble,
      "pipeline.jobs_before_write" -> jobs.count(j => sinkSpan.exists(j.startMs * 1000 + 500 < _.startUs)).toDouble,
      "pipeline.jobs_after_write" -> jobs.count(j => sinkSpan.exists(j.startMs * 1000 + 500 > _.endUs)).toDouble,
      "pipeline.persisted_bytes" -> collector.takePeakCached().toDouble,
      "sink.write_s" -> sinkSpan.fold(0.0)(_.durUs / 1e6),
      "sink.rows" -> r.rows.toDouble,
      "sink.tasks" -> sinkJobs.map(_.tasks).sum.toDouble,
      "sink.bytes" -> sinkJobs.map(_.outBytes).sum.toDouble,
      "sink.rows_per_s" -> sinkSpan.fold(0.0)(s => r.rows / (s.durUs / 1e6)),
      "spark.executor_cpu_s" -> cpuS,
      "spark.executor_run_s" -> jobs.map(_.runMs).sum / 1e3,
      "spark.gc_s" -> jobs.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> jobs.map(_.spill).sum.toDouble,
      "spark.peak_exec_mem_bytes" -> jobs.map(_.peakMem).foldLeft(0L)(math.max).toDouble,
      "spark.cpu_utilization" -> cpuS / (wall * cores),
      "driver_heap_peak_mb" -> r.heapPeakBytes / 1048576.0)
    layerOf.values.foreach(l => m(s"self_s.$l") = 0.0)
    self.foreach { case (name, us) => m(s"self_s.${layerOf.getOrElse(name, name)}") += us / 1e6 }
    m.toMap
  }

  /** The extraction pass and the transform stage pass: every source read
    * and every `Transform` function on its own, over checkpointed inputs,
    * each into a `noop` write, timed as a span (median of three).
    */
  private def stagePass(tracer: Tracer, collector: SparkCollector): Seq[(String, Any)] = {
    runN += 1
    tracer.run = runN
    val client = new TracedClient(new HttpYouGileClient(cfg, new RateLimiter(0)), tracer)
    val out = mutable.ArrayBuffer.empty[(String, Any)]

    // extraction: the paginator alone, then the source (paginator + staging)
    val listings = Seq(
      ("boards", cfg.dictPageLimit, false), ("columns", cfg.dictPageLimit, false),
      ("string-stickers", cfg.dictPageLimit, false), ("tasks", cfg.objectPageLimit, true))
    val src = new YouGileSource(spark, client, cfg)
    val bcCols = Transform.brdClmn(src.boards(), src.columns(), cfg.allowedBoards)
      .select("column_id").collect().map(_.getString(0)).toSeq
    val staged = (listings.map(l => (l._1, l._2, l._3, Option.empty[String])) ++
      bcCols.map(c => ("tasks", cfg.contractPageLimit, false, Some(c)))).map { case (m, lim, del, col) =>
      tracer.span("paginator.fetch_all")(Paginator.fetchAll(client, m, lim, del, col))
    }
    def spanSelf(name: String): Double = {
      val ss = tracer.spans.filter(s => s.run == runN && s.name == name)
      ss.map(s => Tracer.selfTimeUs(s, tracer.spans.filter(x => x.run == runN &&
        (x.id == s.id || x.parent.contains(s.id))))(name)).sum / 1e6
    }
    out += "paginator.self_s" -> spanSelf("paginator.fetch_all")
    out += "source.staged_rows" -> staged.map(_.size).sum.toDouble
    out += "source.staged_bytes" -> staged.map(_.map(_.getBytes("UTF-8").length.toLong).sum).sum.toDouble

    def read(f: => DataFrame): DataFrame = tracer.span("source.read")(f).localCheckpoint()
    val boards = read(src.boards())
    val columns = read(src.columns())
    val stickers = read(src.stickers())
    val contracts = read(src.contracts(bcCols))
    val objects = read(src.subtaskObjects())
    out += "source.self_s" -> spanSelf("source.read")
    val taskObjectsFetched = staged.drop(3).map(_.size).sum

    def timed(name: String, df: => DataFrame): Double = {
      val times = (1 to 3).map { _ =>
        val s = Tracer.nowUs
        tracer.span(name)(df.write.format("noop").mode("overwrite").save())
        (Tracer.nowUs - s) / 1e6
      }
      median(times)
    }
    def shuffleIn(name: String): Double = {
      EtlBenchAccess.drainListeners(spark)
      val ss = tracer.spans.filter(s => s.run == runN && s.name == name)
      ss.flatMap(s => collector.jobsBetween(s.startUs / 1000, s.endUs / 1000 + 1))
        .map(_.shuffleWrite).sum.toDouble / ss.size
    }
    out += "transform.brd_clmn_s" -> timed("transform.brd_clmn",
      Transform.brdClmn(boards, columns, cfg.allowedBoards))
    out += "transform.contracts_prepared_s" -> timed("transform.contracts_prepared",
      Transform.contractsPrepared(contracts))
    out += "transform.subtasks_prepared_s" -> timed("transform.subtasks_prepared",
      Transform.subtasksPrepared(objects))
    val bc = Transform.brdClmn(boards, columns, cfg.allowedBoards).localCheckpoint()
    val cp = Transform.contractsPrepared(contracts).localCheckpoint()
    val sp = Transform.subtasksPrepared(objects).localCheckpoint()
    out += "transform.assembly_s" -> timed("transform.assembly", Transform.taskAssembly(cp, sp))
    out += "transform.assembly_shuffle_bytes" -> shuffleIn("transform.assembly")
    val assembled = Transform.taskAssembly(cp, sp).localCheckpoint()
    out += "transform.lost_subtasks_s" -> timed("transform.lost_subtasks", Transform.lostSubtasks(assembled))
    val states = Transform.stickerStates(stickers).localCheckpoint()
    val mart = Transform.mart(assembled, bc, states, Main.RunTs)
    out += "transform.mart_s" -> timed("transform.mart", mart)
    out += "transform.mart_shuffle_bytes" -> shuffleIn("transform.mart")
    val rowsOut = mart.count()
    val rowsIn = EtlBenchAccess.dedupInput(mart).fold(rowsOut)(_.count())
    out += "transform.dedup_ratio" -> rowsOut.toDouble / rowsIn
    val reached = mart.select("task_id").distinct().count() +
      mart.filter("subtask_name IS NOT NULL").select("subtask_id").distinct().count()
    out += "extract.task_objects_fetched" -> taskObjectsFetched.toDouble
    out += "extract.useful_ratio" -> reached.toDouble / taskObjectsFetched
    out.toSeq
  }

  private def writeSpans(tracer: Tracer): Unit = {
    val om = new ObjectMapper()
    val arr = om.createArrayNode()
    tracer.spans.foreach { s =>
      val n = arr.addObject()
      n.put("id", s.id); n.put("name", s.name); n.put("start_us", s.startUs); n.put("end_us", s.endUs)
      s.parent.foreach(n.put("parent", _)); n.put("run", s.run)
      s.attrs.foreach { case (k, v) => n.put(k, v) }
    }
    val f = work.resolve(s"trace-${shape.name}-${ws.seed}.json")
    Files.write(f, om.writeValueAsBytes(arr))
    log(s"spans written to $f")
  }
}
