package graft.yougile

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.sinks.{Alerter, MartSink, NoopAlerter, ParquetSink}

/** How `Pipeline.run` executes, not only what it loads: the sink's write
  * is the one action over the mart, so the run caches nothing and AQE
  * coalesces every shuffle instead of running one task per
  * `spark.sql.shuffle.partitions`. The counters the run returns and
  * alerts on come from that write.
  */
class PipelineRunSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private class RecordingAlerter extends Alerter {
    var alerts: List[String] = Nil
    override def alert(text: String): Unit = alerts ::= text
  }

  private def run(sink: MartSink, alerter: Alerter): Long =
    Pipeline.run(spark, new JsonFixtureClient(Fixtures.jsonDir),
      YouGileConfig.fixture, Fixtures.runTs, sink, alerter)

  /** Records the task count of every stage and the number of jobs that
    * start while it is registered. `drain()` submits a marker job and
    * waits for the listener to see it start: the marker queues behind the
    * events of every job submitted before it, so after `drain()` the
    * record is complete up to that point. Marker jobs are not counted.
    */
  private class WorkRecorder extends SparkListener {
    private val marker = "pipeline-run-spec-"
    private val markersSeen = new LinkedBlockingQueue[String]()
    private val stageTasks = mutable.ArrayBuffer.empty[Int]
    private var jobCount = 0

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stageTasks += e.stageInfo.numTasks; () }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))) match {
        case Some(d) if d.startsWith(marker) => markersSeen.put(d)
        case _ => synchronized { jobCount += 1 }
      }

    def tasks: List[Int] = synchronized(stageTasks.toList)
    def jobs: Int = synchronized(jobCount)
    def reset(): Unit = synchronized { stageTasks.clear(); jobCount = 0 }

    def drain(): Unit = {
      val sc = spark.sparkContext
      val id = s"$marker${System.nanoTime()}"
      sc.setJobDescription(id)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(markersSeen.poll(60, TimeUnit.SECONDS) == id, "listener bus did not drain")
    }
  }

  /** `body`, recorded from a drained bus until every event of `body` has
    * been delivered; events of earlier work are not recorded.
    */
  private def recorded[A](body: WorkRecorder => A): (A, WorkRecorder) = {
    val rec = new WorkRecorder
    val sc = spark.sparkContext
    sc.addSparkListener(rec)
    try {
      rec.drain()
      rec.reset()
      val out = body(rec)
      rec.drain()
      (out, rec)
    } finally sc.removeSparkListener(rec)
  }

  test("one write computes the run: nothing cached, no stage at the shuffle-partition count") {
    val partitions = 200 // Spark's default; far above local[2]'s parallelism
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    // frames other suites cached are not this run's
    spark.catalog.clearCache()
    val dir = SharedSpark.scratchDir("run") + "/mart"
    var cachedAtWrite: Option[Boolean] = None
    val sink = new MartSink {
      override def write(df: DataFrame): Unit = {
        cachedAtWrite = Some(!spark.sharedState.cacheManager.isEmpty)
        new ParquetSink(dir).write(df)
      }
    }
    spark.conf.set(key, partitions.toString)
    val (rows, rec) =
      try recorded(_ => run(sink, NoopAlerter))
      finally spark.conf.set(key, prev)
    val tasks = rec.tasks
    assert(tasks.nonEmpty)
    assert(!tasks.contains(partitions),
      s"a stage ran one task per shuffle partition (uncoalesced): $tasks")
    assert(cachedAtWrite.contains(false), "a frame was cached while the sink wrote")
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(rows == 240L)
    assert(rows == spark.read.parquet(dir).count())
  }

  test("a run launches at most 4 Spark jobs, at most 1 of them before the sink writes") {
    val dir = SharedSpark.scratchDir("run_jobs") + "/mart"
    var jobsAtWrite = -1
    val (rows, rec) = recorded { rec =>
      run(new MartSink {
        override def write(df: DataFrame): Unit = {
          rec.drain()
          jobsAtWrite = rec.jobs
          new ParquetSink(dir).write(df)
        }
      }, NoopAlerter)
    }
    assert(rows == 240L)
    assert(rec.jobs <= 4, s"${rec.jobs} Spark jobs in one run")
    assert(jobsAtWrite <= 1, s"$jobsAtWrite Spark jobs before the sink's write")
  }

  test("a sink that never executes the mart fails the run promptly, with no data-loss alert") {
    val alerter = new RecordingAlerter
    val lazySink = new MartSink { override def write(df: DataFrame): Unit = () }
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](run(lazySink, alerter))
    val waitedS = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage == "MartSink.write did not execute the mart")
    assert(waitedS < 60, s"took $waitedS s")
    assert(alerter.alerts.isEmpty)
  }

  test("an HTTP error body fails the run before the sink writes") {
    var written = false
    val sink = new MartSink { override def write(df: DataFrame): Unit = written = true }
    val client = new HttpYouGileClient(YouGileConfig.fixture, new RateLimiter(0),
      transport = (_, _) => """{"error":"Unauthorized"}""")
    intercept[IllegalStateException](Pipeline.run(spark, client, YouGileConfig.fixture,
      Fixtures.runTs, sink, NoopAlerter))
    assert(!written)
  }
}
