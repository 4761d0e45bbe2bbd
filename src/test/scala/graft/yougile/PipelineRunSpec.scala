package graft.yougile

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
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

  /** Task counts of every stage `body` ran. A marker job submitted after
    * `body` queues behind all of `body`'s events on the listener bus, so
    * once the listener sees it start, the stage list is complete.
    */
  private def stageTasks[A](body: => A): (A, Seq[Int]) = {
    val marker = s"pipeline-run-spec-${System.nanoTime()}"
    val tasks = mutable.ArrayBuffer.empty[Int]
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        tasks.synchronized { tasks += e.stageInfo.numTasks; () }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          drained.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (out, tasks.synchronized(tasks.toList))
    } finally sc.removeSparkListener(listener)
  }

  test("one write computes the run: nothing cached, no stage at the shuffle-partition count") {
    val partitions = 200 // Spark's default; far above local[2]'s parallelism
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    // frames other suites cached are not this run's
    spark.catalog.clearCache()
    val dir = Files.createTempDirectory("graft-run").toString + "/mart"
    var cachedAtWrite: Option[Boolean] = None
    val sink = new MartSink {
      override def write(df: DataFrame): Unit = {
        cachedAtWrite = Some(!spark.sharedState.cacheManager.isEmpty)
        new ParquetSink(dir).write(df)
      }
    }
    spark.conf.set(key, partitions.toString)
    val (rows, tasks) =
      try stageTasks(run(sink, NoopAlerter))
      finally spark.conf.set(key, prev)
    assert(tasks.nonEmpty)
    assert(!tasks.contains(partitions),
      s"a stage ran one task per shuffle partition (uncoalesced): $tasks")
    assert(cachedAtWrite.contains(false), "a frame was cached while the sink wrote")
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(rows == 240L)
    assert(rows == spark.read.parquet(dir).count())
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
