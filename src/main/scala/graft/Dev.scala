package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev-loop tools over the gate entries and ladder probes, one main with
  * a subcommand each. None is a gate main: no artifact, human-read
  * output only.
  *
  * {{{
  * runMain graft.Dev time    <entry…>  # Bench's 3-run loop per entry, sf0.1, local[SPARK_GRAFT_CPUS=8]
  * runMain graft.Dev explain [entry…]  # formatted physical plans (all gate entries without args), sf0.01, local[8]
  * runMain graft.Dev show    <entry…>  # first 50 result rows, sf0.01, local[8]
  * runMain graft.Dev stream  <entry…>  # micro-batch duration split, sf0.1, local[SPARK_GRAFT_CPUS=32]
  * runMain graft.Dev smoke             # smoke check: SparkEntry.entry must return rows
  * }}}
  * Every subcommand but `smoke` resolves names in [[SparkEntry.allQueries]],
  * which builds the query registry once, on first use; `smoke` initializes
  * no gate module but Mart (SmokeReachSpec pins this).
  * SPARK_GRAFT_SF_DIR overrides the scale directory of every subcommand.
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val names = args.toSeq.drop(1)
    def sfDir(default: String) =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"/root/testdata/$default")
    def cpus(default: Int) = sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)
    args.headOption match {
      case Some("time")    => withSession(cpus(8))(time(_, sfDir("sf0.1"), names))
      case Some("explain") => withSession(8)(explain(_, sfDir("sf0.01"), names))
      case Some("show")    => withSession(8)(show(_, sfDir("sf0.01"), names))
      case Some("stream")  => withSession(cpus(32))(stream(_, sfDir("sf0.1"), names))
      case Some("smoke")   => if (withSession(8)(smoke) <= 0) sys.exit(1)
      case _ =>
        System.err.println("usage: graft.Dev time|explain|show|stream|smoke [entry…]")
        sys.exit(2)
    }
  }

  private def withSession[A](cpus: Int)(body: SparkSession => A): A = {
    val spark = LocalSession(cpus, "ERROR")
    try body(spark) finally spark.stop()
  }

  /** Per-query steady-state timing, no first-run codegen bill: each
    * entry goes through Bench's own timing loop ([[Bench.timeRuns]]:
    * three runs, Bench's sweep after each), and its runs print in run
    * order. Bench's fresh-JVM adjudication parses the
    * `<name> run<i> <sec> s` lines.
    */
  private def time(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    Bench.warmUp(spark)
    names.foreach { name =>
      val query = SparkEntry.allQueries(name)
      Bench.timeRuns(spark, query(spark, sfDir)).zipWithIndex.foreach { case (sec, i) =>
        println(f"$name run${i + 1} $sec%.2f s")
      }
    }
  }

  /** Formatted physical plans for the per-round plan review — pushdown
    * reaching the scan, broadcast choices, codegen spans. Each plan is the
    * one the gate runs: an entry whose plan depends on a measurement (the
    * graph family's set-size probes and edge-count gates, per-sweep
    * checkpoints, emb8/emb9's driver-side power iteration, iterative
    * fixpoints such as ConnectedComponents) runs those jobs while its
    * plan is built.
    */
  private def explain(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val all = if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted
    all.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.allQueries(n)(spark, sfDir).explain("formatted")
    }
  }

  private def show(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { name =>
      println(s"=== $name ===")
      SparkEntry.allQueries(name)(spark, sfDir).show(50, truncate = false)
    }

  private def smoke(spark: SparkSession): Long = {
    val n = SparkEntry.entry(spark).count()
    println(s"[entry-smoke] rows=$n")
    n
  }

  /** Decomposition of the streaming gates' micro-batch cost (r16 VERDICT
    * #6): a [[SparkListener]] on the context's shared bus captures every
    * streaming QueryProgressEvent fired while a named gate entry runs,
    * then prints per entry: batch count, rows, and the duration split
    * Spark itself reports (triggerExecution = the whole batch; addBatch =
    * the actual work; the rest — offset log, commit log, state commit,
    * plan re-init — is micro-batch LIFECYCLE that exists at any data
    * volume). The bus is the one place that sees them: each entry runs
    * on its own session clone, and a clone's queries report to the
    * clone's `streams`, not to this session's.
    */
  private def stream(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    case class B(qid: java.util.UUID, batchId: Long, rows: Long,
        durations: Map[String, Long])
    val batches = new scala.collection.mutable.ArrayBuffer[B]()
    // Attribution keys on the started set: an entry owns exactly the
    // events whose qid started during it, so a prior query whose
    // progress events ALL arrived late can never be counted into the
    // next entry (review r18 — the tag-and-drop by previously-SEEN qids
    // missed the zero-events-seen case). Started events ride the same
    // asynchronous bus ahead of their query's progress events, so the
    // set is read only once settled() has drained the bus.
    val started = scala.collection.mutable.Set[java.util.UUID]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: StreamingQueryListener.QueryStartedEvent =>
          started.synchronized { started += s.id; () }
        case p: StreamingQueryListener.QueryProgressEvent =>
          batches.synchronized {
            import scala.jdk.CollectionConverters._
            batches += B(p.progress.id, p.progress.batchId, p.progress.numInputRows,
              p.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap)
            ()
          }
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // progress events arrive ASYNCHRONOUSLY on the listener bus —
    // awaitTermination returning does not mean the final batch's event
    // was delivered (r17 review #3). Snapshot only once the capture has
    // been stable for TWO consecutive post-sleep polls (ADVICE r17: the
    // earlier loop compared against the pre-sleep size, so one quiet
    // 250 ms interval ended the wait); the 5 s cap is a hang guard, and
    // hitting it is reported rather than silently risking
    // misattribution into the next entry's capture.
    def settled(): List[B] = {
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 2 && waited < 5000) {
        Thread.sleep(250); waited += 250
        val cur = batches.synchronized(batches.size)
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      if (waited >= 5000 && stable < 2)
        println("   WARN: listener bus still draining at snapshot — batch split below may be short")
      batches.synchronized(batches.toList)
    }
    names.foreach { name =>
      batches.synchronized(batches.clear())
      started.synchronized(started.clear())
      val query = SparkEntry.allQueries(name)
      val t0 = System.nanoTime()
      val wall = Bench.swept(spark, query(spark, sfDir)) { df =>
        Bench.noopWrite(df); (System.nanoTime() - t0) / 1e9
      }
      val captured = settled()
      val entryQids = started.synchronized(started.toSet)
      val (own, bleed) = captured.partition(b => entryQids.contains(b.qid))
      if (bleed.nonEmpty)
        println(s"   NOTE: dropped ${bleed.size} straggler event(s) from a prior entry's query")
      val bs = own.sortBy(_.batchId)
      val keys = bs.flatMap(_.durations.keys).distinct.sorted
      println(f"== $name wall=$wall%.2f s, ${bs.size} micro-batches, " +
        s"${bs.map(_.rows).sum} input rows")
      bs.foreach { b =>
        val d = keys.map(k => s"$k=${b.durations.getOrElse(k, 0L)}").mkString(" ")
        println(s"   batch ${b.batchId} rows=${b.rows} $d")
      }
      val tot = keys.map(k => k -> bs.map(_.durations.getOrElse(k, 0L)).sum).toMap
      val trig = tot.getOrElse("triggerExecution", 0L)
      val add = tot.getOrElse("addBatch", 0L)
      println(f"   TOTAL triggerExecution=${trig}ms addBatch=${add}ms " +
        f"lifecycle=${trig - add}ms outside-stream=${wall - trig / 1000.0}%.2f s")
    }
  }
}
