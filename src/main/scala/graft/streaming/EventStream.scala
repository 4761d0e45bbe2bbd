package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface for the events stream (beyond-reference:
  * the YouGile pipeline is hourly batch, SURVEY.md §2.10, but this
  * engine's 100 TB posture includes a streaming path for the same
  * transforms).
  *
  * The operators are written against plain Datasets, so the SAME code
  * runs batch (events parquet) and streaming (readStream/MemoryStream) —
  * Spark's unified-engine idiom. Watermarked windowed/session
  * aggregation and the interval stream-stream join keep state bounded
  * (late events beyond the watermark are dropped, closed windows and
  * out-of-interval buffers are evicted); the per-user running aggregate
  * shows mapGroupsWithState custom state.
  */
object EventStream {

  /** State partitions for the gate's stateful streaming queries —
    * VOLUME-ADAPTIVE (r16 VERDICT #6). Streaming state partition count
    * is pinned by `spark.sql.shuffle.partitions` at the query's FIRST
    * batch and is exempt from AQE coalescing, so unlike batch exchanges
    * it never self-corrects; it must be sized to the stream's volume
    * explicitly, exactly as a production deployment sizes it to key
    * count. Both failure directions were MEASURED on the stream-stream
    * joins: at sf0.1 (200k rows) the session's 32 core-count partitions
    * made the per-partition state-store fixed cost dominant (a
    * stream-stream join runs FOUR stores per partition, each with
    * per-batch snapshot/commit: sw9 addBatch 5.0 s → 1.95 s at 8
    * partitions, wall 6.2 → 3.2 s), while at sf10 (20M rows) 8
    * partitions starved compute parallelism (sw5 27.4 s vs 8.6 s at
    * 32). The rule — one partition per [[StateTargetBytes]] of source,
    * clamped to [8, cores] — reproduces the measured optimum at both
    * ends.
    */
  private val StateTargetBytes = 4L << 20

  def statePartitionsFor(s: org.apache.spark.sql.SparkSession, dir: String,
      table: String = "events"): Int = {
    val f = new java.io.File(dir, table + ".parquet")
    val bytes =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(_.length()).sum
      else f.length()
    val cores = s.sparkContext.defaultParallelism
    if (bytes <= 0L) {
      // java.io.File can only size LOCAL paths; a remote (hdfs://,
      // s3a://) or missing source reads 0 here, which would silently
      // pin every stream to the 8-partition floor — the sf10-starving
      // direction (ADVICE r17). Unknown volume → core count, the
      // setting a production deployment starts from before tuning down.
      System.err.println(s"[stream] WARNING: cannot size $f locally " +
        s"(missing or non-local path) — defaulting state partitions to $cores")
      cores
    } else math.max(8, math.min(cores, (bytes / StateTargetBytes).toInt + 1))
  }

  /** Run `body` (which starts and drains a streaming query) under an
    * explicit state-partition count, restoring the session setting
    * after. `n <= 0` leaves the session setting in place (per-key
    * CPU-bound operators like sw10's session merge want core-count
    * parallelism at scale, not minimal store count).
    *
    * NOTE: mutates the session-global `spark.sql.shuffle.partitions`
    * for the duration of `body` — callers are the single-threaded
    * gate/bench mains; a query running CONCURRENTLY on the same session
    * would plan under the temporary value (ADVICE r17). Use a dedicated
    * session (`s.newSession()`) if concurrent use ever appears.
    */
  def withStatePartitions[T](s: org.apache.spark.sql.SparkSession, n: Int)(body: => T): T = {
    if (n <= 0) body
    else {
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", n.toString)
      try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }

  /** File stream source over one testdata table, handling BOTH layouts
    * a table can arrive in: the driver's plain single FILE (streamed
    * via a name glob over the shared dir — the file stream source
    * itself requires a directory path) and a Spark-written DIRECTORY
    * of part files, where that same glob matches nothing
    * (`pathGlobFilter` tests leaf file names — the round-15 find that
    * had every sf1+ streaming pressure probe reading zero rows).
    * Schema comes from the batch read of the same path, so both
    * layouts stream with their true file schema.
    */
  def streamSource(s: SparkSession, dir: String, table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    val fileSchema = s.read.parquet(path).schema
    if (new java.io.File(path).isDirectory)
      s.readStream.schema(fileSchema)
        .option("pathGlobFilter", "*.parquet").parquet(path)
    else s.readStream.schema(fileSchema)
      .option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** events schema for file stream sources (matches events.parquet after
    * Tables' nanos normalization).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)
  case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

  /** Hourly tumbling-window counts with a 10-minute watermark. On a
    * streaming input the watermark bounds state; on a batch frame the
    * watermark is a no-op and the result equals the ev1 gate query's
    * shape.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("w.start").as("bucket_hour"), col("event_type"), col("n_events"), col("sum_value"))

  /** Running per-user totals via mapGroupsWithState: state survives
    * across micro-batches (Update output mode). The state object is one
    * small case class per user — bounded by the user population, the
    * streaming analog of a partial aggregate.
    */
  def runningUserTotals(events: Dataset[Ev]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(uid, 0L, 0.0))
          val next = evs.foldLeft(prev)((acc, e) =>
            UserTotals(uid, acc.n_events + 1, acc.total_value + e.value))
          state.update(next)
          next
      }
  }

  /** Per-window event-type composition shares — the streaming twin of
    * the dq4 drift monitor's share computation: each CLOSED hour emits
    * its type mix as integer ppm shares, the feed a drift alerter
    * consumes. Two chained stateful aggregations (supported in append
    * mode because both group on the event-time window): per-(window,
    * type) counts first, then a per-window rollup carrying the mix as a
    * struct list — the type domain is bounded, so the rollup row stays
    * tiny no matter the event volume, and watermark eviction bounds
    * state to open windows. Shares use the DECIMAL ppm idiom. On a
    * batch frame the identical code computes the batch mix — the
    * equivalence the spec pins.
    */
  def windowTypeMix(events: DataFrame): DataFrame = {
    val counts = events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    counts
      .groupBy(window(window_time(col("w")), "1 hour").as("w2"))
      .agg(sum(col("n")).as("tot"),
        collect_list(struct(col("event_type"), col("n"))).as("mix"))
      .select(col("w2.start").as("bucket_hour"), col("tot"),
        explode(col("mix")).as("m"))
      .select(col("bucket_hour"), col("m.event_type").as("event_type"),
        col("m.n").as("n"),
        expr("CAST(CAST(m.n AS DECIMAL(38,0)) * 1000000 DIV tot AS BIGINT)")
          .as("share_ppm"))
  }

  /** Streaming exact dedup on event_id with bounded state: duplicates
    * arriving within the watermark window are dropped, and state for ids
    * older than the watermark is evicted — the streaming twin of the
    * batch dd1 operator (which can hold the full key set).
    */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Gap-based sessionization via `session_window` — the streaming twin
    * of the batch ev3 gate query (lag → flag → running sum): sessions
    * merge while consecutive events arrive within the gap. On a stream
    * the watermark lets Spark finalize and evict a session once no
    * in-gap event can still arrive; state is bounded by open sessions,
    * not event history. Session identity here is (user_id,
    * session_start) — the ordinal session_id of the batch variant is a
    * presentation detail a ranking adds.
    */
  def sessionized(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("duration_us"))
      .select(col("user_id"), col("session_start"), col("n_events"), col("duration_us"))

  /** Stream-stream interval join: each `first`-type event paired with the
    * same user's `second`-type events that follow within `within`. Both
    * sides carry watermarks and the join predicate bounds event-time
    * distance, so Spark can evict buffered rows once the watermark
    * passes the interval — the state-bounded spelling of a stream-stream
    * join (an unbounded-time join would grow state forever).
    */
  def followedWithin(events: DataFrame, first: String, second: String,
      within: String = "10 minutes"): DataFrame = {
    val a = events.filter(col("event_type") === first)
      .select(col("user_id"), col("ts").as("first_ts"), col("event_id").as("first_id"))
      .withWatermark("first_ts", "10 minutes")
    val b = events.filter(col("event_type") === second)
      .select(col("user_id").as("b_user"), col("ts").as("second_ts"),
        col("event_id").as("second_id"))
      .withWatermark("second_ts", "10 minutes")
    a.join(b,
      col("user_id") === col("b_user") &&
        col("second_ts") > col("first_ts") &&
        col("second_ts") <= col("first_ts") + expr(s"INTERVAL $within"))
      .drop("b_user")
  }

  /** File-source entry point for a directory of event parquet drops. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Convenience: run a streaming frame into an in-memory table. Pass a
    * durable `checkpoint` to make the query RESTARTABLE: the offset log
    * skips already-processed source files and the state store recovers
    * aggregation state, so a restarted query resumes instead of
    * replaying (pinned by the recovery test in StreamingSpec).
    */
  def startMemorySink(df: DataFrame, name: String, mode: OutputMode,
      checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = df.writeStream.format("memory").queryName(name).outputMode(mode)
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** Route a stream into the SAME MartSink the batch pipeline loads
    * through (foreachBatch): each micro-batch arrives as a plain
    * DataFrame, so one sink implementation serves both execution modes —
    * the streaming twin of the reference's hourly JDBC load. Appending
    * sinks are at-least-once under task retries; pair with an upstream
    * `dropDuplicatesWithinWatermark` (or an idempotent key) when the
    * target needs effective exactly-once — and pass a durable
    * `checkpoint` path, or a restart reprocesses the entire source.
    */
  def startSink(df: DataFrame, sink: graft.sinks.MartSink, mode: OutputMode,
      checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = df.writeStream
      .outputMode(mode)
      .foreachBatch((batch: Dataset[org.apache.spark.sql.Row], _: Long) => sink.write(batch.toDF()))
    // without a durable checkpoint a restart replays the whole source
    // into an append-only sink; production callers MUST pass one (tests
    // may rely on the ephemeral temp checkpoint)
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }
}
