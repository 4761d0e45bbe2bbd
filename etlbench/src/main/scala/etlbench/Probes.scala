package etlbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import graft.sinks.{Alerter, MartSink}
import graft.yougile.YouGileClient

/** One traced interval. Times are epoch microseconds; `run` groups every
  * span of one `Pipeline.run` (0 for spans outside a run).
  */
case class Span(id: Long, name: String, startUs: Long, endUs: Long, parent: Option[Long],
    run: Int, attrs: Map[String, Double] = Map.empty) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder for the benchmark's own layer boundaries. The
  * pipeline calls its client, sink and alerter on the driver thread, so
  * one stack of open spans gives every span its parent.
  */
final class Tracer {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Long] = Nil
  private var nextId = 0L
  var run = 0

  import Tracer.nowUs

  def span[A](name: String)(body: => A): A = {
    val (id, parent) = synchronized {
      nextId += 1
      val p = open.headOption
      open = nextId :: open
      (nextId, p)
    }
    val start = nowUs
    try body
    finally synchronized {
      open = open.filterNot(_ == id)
      done += Span(id, name, start, nowUs, parent, run)
    }
  }

  /** Adds spans recorded elsewhere (Spark jobs), parenting each on the
    * innermost span of the same run open at its start.
    */
  def adopt(name: String, startUs: Long, endUs: Long, run: Int, attrs: Map[String, Double]): Unit =
    synchronized {
      val parent = done.filter(s => s.run == run && s.startUs <= startUs && startUs <= s.endUs)
        .maxByOption(_.startUs).map(_.id)
      nextId += 1
      done += Span(nextId, name, startUs, endUs, parent, run, attrs)
    }

  def spans: Seq[Span] = synchronized(done.toList)
}

object Tracer {
  /** Wall-clock now in epoch microseconds, comparable with Spark's event times. */
  def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Self time per span name: each instant of `root` goes to the deepest
    * span open at that instant (ties to the latest start), so the values
    * sum to the root's duration.
    */
  def selfTimeUs(root: Span, all: Seq[Span]): Map[String, Long] = {
    val inRun = all.filter(s => s.run == root.run && s.endUs > s.startUs)
    val byId = inRun.map(s => s.id -> s).toMap
    def depth(s: Span): Int = s.parent.flatMap(byId.get).map(depth(_) + 1).getOrElse(0)
    val depths = inRun.map(s => s.id -> depth(s)).toMap
    val cuts = inRun.flatMap(s => Seq(s.startUs, s.endUs))
      .filter(t => t >= root.startUs && t <= root.endUs).distinct.sorted
    val acc = mutable.Map.empty[String, Long].withDefaultValue(0L)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val active = inRun.filter(s => s.startUs <= a && s.endUs >= b)
      if (active.nonEmpty) {
        val top = active.maxBy(s => (depths(s.id), s.startUs))
        acc(top.name) += b - a
      }
    }
    acc.toMap
  }
}

/** Pass-through client that times each page fetch as a `client.fetch`
  * span. The page string is returned untouched.
  */
final class TracedClient(inner: YouGileClient, tracer: Tracer) extends YouGileClient {
  val requests = new AtomicLong
  val failed = new AtomicLong
  val busyNs = new AtomicLong
  val requestNs = mutable.ArrayBuffer.empty[Long]

  override def fetchPage(method: String, offset: Int, limit: Int,
      includeDeleted: Boolean, columnId: Option[String]): String =
    tracer.span("client.fetch") {
      val t0 = System.nanoTime()
      try inner.fetchPage(method, offset, limit, includeDeleted, columnId)
      catch { case e: Throwable => failed.incrementAndGet(); throw e }
      finally {
        val d = System.nanoTime() - t0
        requests.incrementAndGet()
        busyNs.addAndGet(d)
        requestNs.synchronized { requestNs += d }
        ()
      }
    }
}

/** Pass-through sink that times the load as a `sink.write` span. */
final class TracedSink(inner: MartSink, tracer: Tracer) extends MartSink {
  override def write(df: DataFrame): Unit = tracer.span("sink.write")(inner.write(df))
}

/** Pass-through alerter that records each alert as an `alert` span. */
final class TracedAlerter(inner: Alerter, tracer: Tracer) extends Alerter {
  override def alert(text: String): Unit = tracer.span("alert")(inner.alert(text))
}

/** Stands in for the Telegram alerter: keeps every alert text. */
final class CaptureAlerter extends Alerter {
  private val texts = mutable.ArrayBuffer.empty[String]
  override def alert(text: String): Unit = texts.synchronized { texts += text; () }
  def take(): Seq[String] = texts.synchronized { val t = texts.toList; texts.clear(); t }
}

/** Spark work counters per job, read on the listener bus. */
final class SparkCollector extends SparkListener {
  final class Job(val id: Int, val startMs: Long) {
    var endMs = startMs
    var stages = 0
    var tasks = 0L
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var peakMem = 0L
    var outBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val blocks = mutable.Map.empty[String, Long]
  private var cached = 0L
  private var peakCached = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.jobId, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.runMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
      j.outBytes += m.outputMetrics.bytesWritten
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cached += size - blocks.getOrElse(info.blockId.name, 0L)
      if (size == 0L) blocks.remove(info.blockId.name) else blocks(info.blockId.name) = size
      peakCached = math.max(peakCached, cached)
    }
  }

  /** Jobs submitted within [fromMs, toMs]. */
  def jobsBetween(fromMs: Long, toMs: Long): Seq[Job] =
    synchronized(jobs.values.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toList)

  /** Peak bytes of cached RDD blocks since the last call. */
  def takePeakCached(): Long = synchronized {
    val p = peakCached
    peakCached = cached
    p
  }
}

/** Heap in use right after each garbage collection, from the JVM's GC
  * notifications, stamped with the collection's end in JVM uptime.
  */
object HeapWatch {
  private val samples = mutable.ArrayBuffer.empty[(Long, Long)]
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  lazy val install: Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter =>
      em.addNotificationListener((n, _) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
          val used = gc.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          samples.synchronized { samples += gc.getEndTime -> used; () }
        }, null, null)
    case _ =>
  }

  def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime

  /** The largest post-GC heap of the collections that ended in the window. */
  def peakBetween(fromMs: Long, toMs: Long): Long = samples.synchronized {
    samples.collect { case (t, used) if t >= fromMs && t <= toMs => used }.maxOption.getOrElse(0L)
  }
}
