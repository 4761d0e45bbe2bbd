package graft.yougile

import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit, when}
import graft.sinks.{Alerter, MartSink}

/** The whole reference DAG as one driver program (O1/O2): extract →
  * assemble → mart → sink, a single lazy plan with lineage replacing
  * XCom. The run timestamp is a parameter (O4, the reference's
  * `{{data_interval_end}}` template, `:362`); alerts fire on data loss
  * (F4, `:241-244`) exactly like the reference's Telegram alarm.
  *
  * The sink's write is the run's only action over the mart plan: the
  * row count and the data-loss count ride on it as an [[Observation]],
  * so nothing is persisted and adaptive execution sizes every stage of
  * the plan (joins, dedup exchange and write) to the data. The lost-lot
  * count on the mart equals [[Transform.lostSubtasks]] on the assembly:
  * the mart's dimension lookups add and drop no assembled row, and the
  * full-row dedup keeps at least one copy of each.
  *
  * Because the counters come from the write, the data-loss alert fires
  * after the write, not before it. A write that throws sends no
  * data-loss alert for that attempt; `app.Main`'s failure alert still
  * fires once the retries are spent.
  */
object Pipeline {

  val DataLossAlert = "❌ some data is lost in uploading from YouGile!"

  /** How long to wait for the write's observed counters to arrive after
    * the write returns. They are posted on the listener bus, so they can
    * trail a write by a few milliseconds; a sink that never executed the
    * frame leaves them empty forever.
    */
  private val ObservationWait: FiniteDuration = 10.seconds

  /** brd_clmn: the columns of the boards on `cfg`'s allow-list. */
  def brdClmn(src: YouGileSource, cfg: YouGileConfig): DataFrame =
    Transform.brdClmn(src.boards(), src.columns(), cfg.allowedBoards)

  /** The contract×lot grain before hub enrichment (§3.2's output). The
    * column-id collect is safe: brd_clmn is bounded dimensional data, and
    * over the source's local frames it runs no Spark job. A
    * brd_clmn with no column (an allow-list naming no existing board: a
    * typo, or a board renamed in YouGile) fails here, before any `tasks`
    * page is requested, instead of loading an empty mart.
    */
  def assembled(src: YouGileSource, brdClmn: DataFrame): DataFrame = {
    val columnIds = brdClmn.select("column_id").collect().map(_.getString(0)).toSeq
    if (columnIds.isEmpty)
      throw new IllegalStateException(
        s"no board column passed the allow-list ${src.cfg.allowedBoards.mkString("[", ", ", "]")}")
    Transform.taskAssembly(
      Transform.contractsPrepared(src.contracts(columnIds)),
      Transform.subtasksPrepared(src.subtaskObjects()))
  }

  /** The 22-column `cdm_tasks` mart stamped with `runTs`. */
  def mart(src: YouGileSource, cfg: YouGileConfig, runTs: String): DataFrame = {
    val bc = brdClmn(src, cfg)
    Transform.mart(assembled(src, bc), bc, Transform.stickerStates(src.stickers()), runTs)
  }

  def run(
      spark: SparkSession,
      client: YouGileClient,
      cfg: YouGileConfig,
      runTs: String,
      sink: MartSink,
      alerter: Alerter): Long = {
    val obs = Observation()
    sink.write(mart(new YouGileSource(spark, client, cfg), cfg, runTs)
      .observe(obs, count(lit(1)).as("rows"), count(when(Transform.lostLot, 1)).as("lost")))
    val metrics =
      try Await.result(obs.future, ObservationWait)
      catch {
        case _: TimeoutException =>
          throw new IllegalStateException("MartSink.write did not execute the mart")
      }
    if (metrics.getAs[Long]("lost") > 0) alerter.alert(DataLossAlert)
    metrics.getAs[Long]("rows")
  }
}
