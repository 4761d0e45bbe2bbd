package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStream
import graft.streaming.StreamTestKit.{Ev, startMemorySink}

/** Streaming semantics: the gate's streaming entries must equal their
  * batch spellings, the stream-static and stateful operators must carry
  * state across micro-batches, and the shared file source must pick up
  * new drops and resume from its checkpoint.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val batch1 = Seq(
    Ev(ts("2024-01-01 10:05:00"), 1, "click", 2.0),
    Ev(ts("2024-01-01 10:20:00"), 1, "click", 3.0),
    Ev(ts("2024-01-01 10:40:00"), 2, "view", 1.0))
  private val batch2 = Seq(
    Ev(ts("2024-01-01 11:10:00"), 1, "click", 5.0),
    Ev(ts("2024-01-01 11:30:00"), 2, "view", 7.0))

  test("stream-static decontamination flags the same docs as the batch pass") {
    implicit val sq = spark.sqlContext
    val s = SparkEntry.configure(spark)
    val dir = "/root/testdata/sf0.001"
    // static side: the benchmark shingle set (broadcast in the plan);
    // streaming side: corpus documents arriving in micro-batches
    val bench = graft.queries.Dedup.benchmarkShingles(s, dir)
    val docs = Tables(s, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val stream = MemoryStream[(Long, String)]
    val q = startMemorySink(
      graft.queries.Dedup.contaminationCounts(
        stream.toDF().toDF("doc_id", "text"), bench),
      "contam", OutputMode.Complete())
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2)
      stream.addData(b1.toSeq)
      q.processAllAvailable()
      stream.addData(b2.toSeq) // counts must accumulate across batches
      q.processAllAvailable()
      val streamed = spark.table("contam").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.queries.Dedup.contaminationCounts(
        Tables(s, dir, "documents").select("doc_id", "text"), bench)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("sw14: append-mode decontamination evicts per-doc state as the watermark passes") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val s = SparkEntry.configure(spark.newSession())
    val dir = "/root/testdata/sf0.001"
    val stage = graft.queries.Dedup.sw14Stage(s, dir)
    val bench = graft.queries.Dedup.benchmarkShingles(s, dir)
    val fileSchema = s.read.parquet(stage).schema
    val stream = s.readStream.schema(fileSchema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
      .select(col("doc_id"), col("text"))
    val counts = graft.queries.Dedup.contaminationCounts(stream, bench,
      eventTime = Some((graft.queries.Dedup.sw14Ts, "10 seconds")))
    val q = counts.writeStream.format("memory").queryName("sw14_pin")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val progress = q.recentProgress.toSeq
    val dataBatches = progress.count(_.numInputRows > 0)
    assert(dataBatches >= 3, s"expected 3 micro-batches (2 staged files + sentinel), got $dataBatches")
    // eviction is CONTINUOUS, not end-of-stream: state rows leave while
    // data is still arriving — the bounded-state claim sw14 exists for
    val removed = progress.map(_.stateOperators.map(_.numRowsRemoved).sum)
    assert(removed.dropRight(1).sum > 0, s"no mid-stream eviction: $removed")
    // and the sentinel closes every real window: final state is EMPTY
    val lastState = progress.last.stateOperators.map(_.numRowsTotal).sum
    assert(lastState == 0, s"final state not evicted: $lastState rows")
    // the append lifecycle emitted every count exactly as the batch pass
    val streamed = s.table("sw14_pin").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.queries.Dedup.contaminationCounts(
      Tables(s, dir, "documents").select("doc_id", "text"), bench)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty && streamed == batch)
  }

  test("sw7 stream-static enrichment: null pass-through non-vacuous, census matches batch") {
    import org.apache.spark.sql.functions._
    val s = SparkEntry.configure(spark)
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("sw7_static_enrich")(s, dir)
    val rows = got.collect()
    // the dim excludes c_custkey % 3 == 0 users, so the LEFT join must
    // surface a NULL-nation census group (data-sensitive: re-tune if the
    // driver regenerates user ids away from the customer key space)
    assert(rows.exists(_.isNullAt(1)), "no NULL-nation group — outer pass-through vacuous")
    assert(rows.exists(!_.isNullAt(1)), "no matched group — the dim join never matched")
    val wm = Tables(s, dir, "events").agg(max(col("ts"))).head().getTimestamp(0)
    val batch = Tables(s, dir, "events")
      .join(org.apache.spark.sql.functions.broadcast(
        Tables(s, dir, "customer").filter(col("c_custkey") % 3 =!= 0)
          .join(Tables(s, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey").as("user_id"), col("n_name").as("nation"))),
        Seq("user_id"), "left")
      .groupBy(window(col("ts"), "1 hour")("start").as("bucket_hour"), col("nation"))
      .count()
      .filter(col("bucket_hour") + expr("INTERVAL 1 HOUR") <=
        lit(wm) - expr("INTERVAL 10 MINUTES"))
      .collect().map(r => (r.get(0), r.get(1), r.getLong(2))).toSet
    assert(rows.map(r => (r.get(0), r.get(1), r.getLong(2))).toSet == batch)
  }

  test("sw9 left-outer stream join: matched, horizon-expired, and withheld arms all live") {
    import org.apache.spark.sql.functions._
    val s = SparkEntry.configure(spark)
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("sw9_stream_outer_join")(s, dir).collect()
    assert(got.exists(_.getLong(2) != -1L), "no matched pairs — inner arm vacuous")
    assert(got.exists(_.getLong(2) == -1L), "no expired unmatched views — outer arm vacuous")
    // batch restatement: matched pairs + unmatched views past the
    // horizon; the global watermark is the MIN over both streams
    // (multipleWatermarkPolicy default)
    val v = Tables(s, dir, "events").filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("vts"))
    val p = Tables(s, dir, "events").filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("pts"))
    val wm = Seq(v.agg(max(col("vts"))).head().getTimestamp(0),
      p.agg(max(col("pts"))).head().getTimestamp(0)).min(Ordering.by((t: java.sql.Timestamp) => t.getTime))
    val cond = col("user_id") === col("p_user") &&
      col("pts") >= col("vts") && col("pts") <= col("vts") + expr("INTERVAL 30 MINUTES")
    val matched = v.join(p, cond).select(col("view_id"), col("purchase_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val horizon = lit(wm) - expr("INTERVAL 10 MINUTES") - expr("INTERVAL 30 MINUTES")
    val unmatchedAll = v.join(p, cond, "left_anti")
    val expired = unmatchedAll.filter(col("vts") < horizon)
      .select(col("view_id")).collect().map(_.getLong(0)).toSet
    val gotMatched = got.filter(_.getLong(2) != -1L).map(r => (r.getLong(0), r.getLong(2))).toSet
    val gotExpired = got.filter(_.getLong(2) == -1L).map(_.getLong(0)).toSet
    assert(gotMatched == matched)
    assert(gotExpired == expired)
  }

  test("sw9 withheld arm: an unmatched view inside the horizon is NOT emitted (planted)") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions._
    val views = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val v = views.toDF().select(col("user_id").as("uid_v"), col("ts").as("vts"))
      .withWatermark("vts", "10 minutes")
    val p = purchases.toDF().select(col("user_id").as("uid_p"), col("ts").as("pts"))
      .withWatermark("pts", "10 minutes")
    val joined = v.join(p,
      col("uid_v") === col("uid_p") && col("pts") >= col("vts") &&
        col("pts") <= col("vts") + expr("INTERVAL 30 MINUTES"), "leftOuter")
      .select(col("uid_v"), coalesce(col("uid_p"), lit(-1L)).as("matched"))
    val q = joined.writeStream.format("memory").queryName("sw9_planted")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: matched; user 2: unmatched, window long expired by the
      // final watermark; user 3: unmatched, window still open — the
      // watermark (min over both streams ≈ 11:10) sits between user 2's
      // expiry (10:30) and user 3's (11:50)
      views.addData(
        Ev(ts("2024-01-01 10:00:00"), 1, "view", 0),
        Ev(ts("2024-01-01 10:00:00"), 2, "view", 0),
        Ev(ts("2024-01-01 11:20:00"), 3, "view", 0))
      purchases.addData(Ev(ts("2024-01-01 10:10:00"), 1, "purchase", 0))
      q.processAllAvailable()
      purchases.addData(Ev(ts("2024-01-01 11:55:00"), 99, "purchase", 0))
      q.processAllAvailable()
      purchases.addData(Ev(ts("2024-01-01 11:56:00"), 99, "purchase", 0))
      q.processAllAvailable()
      val rows = spark.table("sw9_planted").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((1L, 1L), (2L, -1L)),
        s"want matched user 1 + expired user 2, withheld user 3 absent; got $rows")
    } finally q.stop()
  }

  test("streaming incremental near-dup matches the dd10 batch pass across micro-batches") {
    implicit val sq = spark.sqlContext
    val s = SparkEntry.configure(spark)
    val dir = "/root/testdata/sf0.001"
    // static side: the corpus band table (shingles attached); streaming
    // side: the planted ingest batch arriving in two micro-batches
    val corpusBands = graft.queries.Dedup.corpusBandsWithShingles(s, dir)
    val batchDocs = graft.queries.Dedup.plantedBatch(s, dir)
      .as[(Long, String)].collect()
    val stream = MemoryStream[(Long, String)]
    val q = startMemorySink(
      graft.queries.Dedup.incrementalMatches(
        stream.toDF().toDF("doc_id", "text"), corpusBands),
      "inc_dedup", OutputMode.Append())
    try {
      val (b1, b2) = batchDocs.splitAt(batchDocs.length / 2)
      stream.addData(b1.toSeq)
      q.processAllAvailable()
      stream.addData(b2.toSeq)
      q.processAllAvailable()
      def canon(rows: Seq[org.apache.spark.sql.Row]) = rows
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("jaccard"))).toSet
      val streamed = canon(spark.table("inc_dedup").collect().toSeq)
      val batch = canon(graft.queries.Dedup.incrementalMatches(
        graft.queries.Dedup.plantedBatch(s, dir), corpusBands).collect().toSeq)
      val gate = canon(SparkEntry.queries("dd10_incremental_neardup")(spark, dir)
        .collect().toSeq)
      assert(batch.nonEmpty && streamed == batch,
        s"stream ${streamed.size} pairs vs batch ${batch.size}")
      assert(streamed == gate, "streaming core diverged from the dd10 gate entry")
    } finally q.stop()
  }

  test("file-source stream picks up parquet drops incrementally") {
    // a Spark-written DIRECTORY table: the layout streamSource must glob
    // inside rather than beside
    val dir = SharedSpark.scratchDir("stream_src")
    def drop(evs: Seq[Ev]): Unit =
      evs.toDF("ts", "user_id", "event_type", "value")
        .withColumn("event_id", org.apache.spark.sql.functions.col("value").cast("long"))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(s"$dir/events.parquet")
    drop(batch1.zipWithIndex.map { case (e, i) => e.copy(value = i.toDouble) })
    val q = startMemorySink(
      EventStream.streamSource(spark, dir, "events"), "file_events", OutputMode.Append())
    try {
      q.processAllAvailable()
      assert(spark.table("file_events").count() == batch1.length)
      // a later file drop is discovered as a new micro-batch
      drop(batch2.zipWithIndex.map { case (e, i) => e.copy(value = (10 + i).toDouble) })
      q.processAllAvailable()
      assert(spark.table("file_events").count() == (batch1 ++ batch2).length)
    } finally q.stop()
  }
  test("checkpointed restart recovers aggregation state without reprocessing") {
    import org.apache.spark.sql.functions._
    val dir = SharedSpark.scratchDir("ckpt_src")
    val ckpt = SharedSpark.scratchDir("ckpt")
    def drop(evs: Seq[Ev]): Unit =
      evs.toDF("ts", "user_id", "event_type", "value")
        .withColumn("event_id", col("value").cast("long"))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(s"$dir/events.parquet")
    def hourly(events: org.apache.spark.sql.DataFrame) = events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour")("start").as("bucket_hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    // the drop helper derives event_id from value, so the batch twin must
    // see the SAME re-valued rows the files carry
    val b1 = batch1.zipWithIndex.map { case (e, i) => e.copy(value = i.toDouble) }
    val b2 = batch2.zipWithIndex.map { case (e, i) => e.copy(value = (10 + i).toDouble) }
    drop(b1)
    val q1 = startMemorySink(hourly(EventStream.streamSource(spark, dir, "events")),
      "ckpt_counts", OutputMode.Complete(), Some(ckpt))
    q1.processAllAvailable()
    q1.stop() // simulate a crash/deploy between file drops
    drop(b2)
    val q2 = startMemorySink(hourly(EventStream.streamSource(spark, dir, "events")),
      "ckpt_counts", OutputMode.Complete(), Some(ckpt))
    try {
      q2.processAllAvailable()
      // output covers BOTH drops — the window counts over batch1 can only
      // come from the recovered state store...
      val streamed = spark.table("ckpt_counts").orderBy("bucket_hour", "event_type").collect()
      val batched = hourly((b1 ++ b2).toDF())
        .orderBy("bucket_hour", "event_type").collect()
      assert(streamed.toSeq == batched.toSeq)
      // ...because the restarted query read ONLY the new file (the offset
      // log skipped batch1's) — this is what distinguishes real recovery
      // from a fresh query silently replaying the whole directory
      val rowsRead = q2.recentProgress.map(_.numInputRows).sum
      assert(rowsRead == batch2.length.toLong,
        s"restarted query read $rowsRead rows, expected only ${batch2.length}")
    } finally q2.stop()
  }
  test("StreamingGate entries: streaming execution equals the batch spelling of the watermark contract") {
    // The gate's DuckDB oracle proves this cross-engine at sf0.01; this
    // spec pins the same batch-equivalence inside CI at fixture scale:
    // append mode emits exactly the windows/sessions whose end is at or
    // below the final watermark (max ts - 10 min).
    import org.apache.spark.sql.functions._
    val s = SparkEntry.configure(spark)
    val dir = "/root/testdata/sf0.001"
    val ev = Tables(s, dir, "events")
    val wm = ev.agg(max(col("ts"))).head.getTimestamp(0).toInstant
      .minusSeconds(600)

    val streamed = SparkEntry.queries("sw2_stream_hourly")(s, dir).collect()
    val batch = ev
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100).cast("long")).cast("double") / lit(100.0))
          .as("sum_value"))
      .filter(col("w.end") <= lit(Timestamp.from(wm)))
      .select(col("w.start").as("bucket_hour"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(col("bucket_hour").asc_nulls_first, col("event_type").asc_nulls_first)
      .collect()
    assert(streamed.nonEmpty, "vacuous: no closed windows at fixture scale")
    assert(streamed.toSeq == batch.toSeq)

    val streamedSess = SparkEntry.queries("sw3_stream_sessions")(s, dir).collect()
    val batchSess = ev
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .filter(col("w.end") <= lit(Timestamp.from(wm)))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
      .orderBy(col("user_id").asc_nulls_first, col("session_start").asc_nulls_first)
      .collect()
    assert(streamedSess.nonEmpty, "vacuous: no closed sessions at fixture scale")
    assert(streamedSess.toSeq == batchSess.toSeq)
  }

  test("sw5: stream-stream interval join emits exactly the batch join's pairs") {
    import org.apache.spark.sql.functions._
    val s = SparkEntry.configure(spark)
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("sw5_stream_join")(s, dir).collect()
    assert(out.nonEmpty, "vacuous: no view→purchase pair at fixture scale")
    val ev = Tables(s, dir, "events")
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("vts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("pu"), col("ts").as("pts"))
    val batch = v.join(p, col("user_id") === col("pu") &&
        col("pts") >= col("vts") && col("pts") <= col("vts") + expr("INTERVAL 30 MINUTES"))
      .select(col("view_id"), col("purchase_id"), col("user_id"),
        expr("(unix_micros(pts) - unix_micros(vts)) DIV 1000000").as("delay_s"))
      .orderBy(col("view_id").asc_nulls_first, col("purchase_id").asc_nulls_first)
      .collect()
    assert(out.toSeq == batch.toSeq)
    out.foreach(r => assert(r.getAs[Long]("delay_s") >= 0 && r.getAs[Long]("delay_s") <= 1800))
  }

  test("sw4: streaming dedup removes exactly the planted duplicates") {
    import org.apache.spark.sql.functions._
    val s = SparkEntry.configure(spark)
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("sw4_stream_dedup")(s, dir).collect()
    val src = Tables(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy(col("event_id").asc_nulls_first).collect()
    // non-vacuous: the planted stream really carried duplicates
    assert(src.count(_.getAs[Long]("event_id") % 2 == 1) > 0)
    // exactly once per event, full-row equality with the source
    assert(out.toSeq == src.toSeq)
  }

  test("sw6: sketch-in-state distinct census matches batch AND keeps per-GROUP state") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val s = SparkEntry.configure(spark)
    val dir = "/root/testdata/sf0.001"
    val ev = Tables(s, dir, "events")
    val wmInstant = ev.agg(max(col("ts"))).head.getTimestamp(0).toInstant.minusSeconds(600)

    // the gate entry equals the batch COUNT(DISTINCT) under the
    // watermark contract (sketch exact below k)
    val streamed = SparkEntry.queries("sw6_stream_distinct")(s, dir).collect()
    val batch = ev
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("distinct_users"),
        count(lit(1)).as("n_events"))
      .filter(col("w.end") <= lit(Timestamp.from(wmInstant)))
      .select(col("w.start").as("bucket_hour"), col("event_type"),
        col("distinct_users"), col("n_events"))
      .orderBy(col("bucket_hour").asc_nulls_first, col("event_type").asc_nulls_first)
      .collect()
    assert(streamed.nonEmpty, "vacuous: no closed windows at fixture scale")
    assert(streamed.toSeq == batch.toSeq)

    // the SCALE claim: state rows are (window × type) GROUPS, never
    // (window × type × user) — rebuild the same query keeping the handle
    // so the state-operator metrics are visible
    val fileSchema = s.read.parquet(s"$dir/events.parquet").schema
    val raw = s.readStream.schema(fileSchema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    val tsCol = fileSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("timestamp_micros(ts DIV 1000)")
      case _ => col("ts").cast("timestamp")
    }
    val agg = raw.select(tsCol.as("ts"), col("user_id"), col("event_type"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(graft.functions.NdvSketch.ndvSketch(col("user_id")).as("du"))
    val q = agg.writeStream.format("memory").queryName("sw6_state_pin")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val maxStateRows = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal)).max
    val groups = ev.select(window(col("ts"), "1 hour"), col("event_type")).distinct().count()
    val userGroups = ev.select(window(col("ts"), "1 hour"), col("event_type"), col("user_id"))
      .distinct().count()
    assert(maxStateRows <= groups, s"state rows $maxStateRows exceed window-groups $groups")
    assert(userGroups > groups, "fixture degenerate: one user per group — pin proves nothing")
  }

  test("sw11 transformWithState hourly windows equal sw2's built-in tumbling aggregate") {
    // the equivalence claim behind sw11's oracle reuse: the state-v2
    // MapState + event-time-timer processor must reproduce the built-in
    // watermarked tumbling aggregate row-for-row, including the
    // ≥-closes emission contract at the final watermark
    val s = spark
    val dir = "/root/testdata/sf0.001"
    def rows(name: String) =
      SparkEntry.queries(name)(s, dir).collect().map(_.toSeq).toSeq
    val tws = rows("sw11_tws_hourly")
    val builtin = rows("sw2_stream_hourly")
    assert(tws.nonEmpty, "vacuous: no closed windows at fixture scale")
    assert(tws == builtin,
      s"state-v2 processor diverged: ${tws.size} vs ${builtin.size} rows")
  }

  test("sw10 custom flatMapGroupsWithState sessions equal sw3's built-in session_window") {
    // the equivalence claim behind sw10's oracle reuse: the custom
    // EventTimeTimeout state machine must reproduce Spark's own
    // sessionization row-for-row — merge order, watermark gating, and
    // tail withholding included
    val s = spark
    val dir = "/root/testdata/sf0.001"
    def rows(name: String) =
      SparkEntry.queries(name)(s, dir).collect().map(_.toSeq).toSeq
    val custom = rows("sw10_custom_sessions")
    val builtin = rows("sw3_stream_sessions")
    assert(custom.nonEmpty, "vacuous: no closed sessions at fixture scale")
    assert(custom == builtin,
      s"custom sessionizer diverged: ${custom.size} vs ${builtin.size} rows")
  }

  test("sw18: streaming quota admission equals the batch restatement, and the cap binds") {
    // same posture as the sw10 pin: the custom EventTimeTimeout state
    // machine must reproduce a declarative batch computation of the
    // identical semantics — row_number admission per (host, day) in
    // (ts, event_id) order, watermark-closed days only
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val s = spark
    val DayUs = 86400L * 1000000L
    def batchTwin(dir: String): Seq[Seq[Any]] = {
      val e = graft.Tables(s, dir, "events")
        .select(concat(lit("site"), (col("user_id") % 23).cast("string")).as("host"),
          col("ts"), unix_micros(col("ts")).as("us"), col("event_id"))
        .withColumn("win_us", col("us") - (col("us") % DayUs))
      val wmUs = (e.agg(max(col("us"))).collect()(0).getLong(0) / 1000L - 600000L) * 1000L
      val rn = row_number().over(
        Window.partitionBy("host", "win_us").orderBy(col("ts"), col("event_id")))
      e.withColumn("rn", rn)
        .filter(col("win_us") + DayUs <= wmUs)
        .groupBy("host", "win_us")
        .agg(count(lit(1)).as("n_req"),
          sum(when(col("rn") <= 8, 1L).otherwise(0L)).as("n_admitted"),
          sum(when(col("rn") <= 8, col("event_id")).otherwise(0L)).as("admitted_id_sum"),
          sum(when(col("rn") > 8, col("event_id")).otherwise(0L)).as("deferred_id_sum"))
        .select(col("host"), timestamp_micros(col("win_us")).as("win_start"),
          col("n_req"), col("n_admitted"), col("admitted_id_sum"), col("deferred_id_sum"))
        .orderBy(col("host").asc_nulls_first, col("win_start").asc_nulls_first)
        .collect().map(_.toSeq).toSeq
    }
    val streamed = SparkEntry.queries("sw18_crawl_quota")(s, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty, "vacuous: no closed days at fixture scale")
    assert(streamed == batchTwin("/root/testdata/sf0.001"),
      s"quota state machine diverged: ${streamed.size} rows streamed")
    // non-vacuity of the cap at the GATE scale (sf0.001's ~1.5 req/day
    // never fills a quota; sf0.01's ~14.5 does) — batch twin only, the
    // gate oracle hash already pins the streamed side there
    assert(batchTwin("/root/testdata/sf0.01").exists(r =>
      r(2).asInstanceOf[Long] > 8L && r(3).asInstanceOf[Long] == 8L),
      "cap never binds at gate scale")
  }

  test("sw12: the stream ran multi-batch, and replaying an applied epoch is a no-op") {
    import org.apache.spark.sql.functions._
    import graft.sinks.VersionedTable
    import graft.queries.StreamingGate
    val dir = "/root/testdata/sf0.001"
    val s = SparkEntry.configure(spark.newSession())
    val out = SparkEntry.queries("sw12_exactly_once_sink")(s, dir).collect().toSet
    val root = StreamingGate.eosRoot(s, dir)
    // 4 staged files → 4 micro-batches → at least 4 published versions
    val v = VersionedTable.committedVersion(s, root)
    assert(v.exists(_ >= 4L), s"expected a multi-batch run, got version $v")
    // the newest retained marker carries the last applied epoch's tag
    val metas = VersionedTable.committedMetas(s, root)
    assert(metas.head._2.startsWith("batch="), s"marker meta missing: $metas")
    val lastId = metas.head._2.stripPrefix("batch=").toLong
    // replay that epoch (a restart re-runs the last, possibly-committed
    // batch): the sink must recognize its own tag and change NOTHING —
    // feed it the WHOLE events table, which would visibly double-count
    val before = VersionedTable.read(s, root).collect().toSet
    StreamingGate.eosApply(s, root)(
      graft.Tables(s, dir, "events").select(col("event_id"), col("event_type"), col("value")),
      lastId)
    assert(VersionedTable.committedVersion(s, root) == v, "replay must not publish")
    assert(VersionedTable.read(s, root).collect().toSet == before, "replay mutated the sink")
    // a NEW epoch id with fresh rows DOES apply (the skip is id-keyed,
    // not content-keyed): counts strictly grow
    StreamingGate.eosApply(s, root)(
      graft.Tables(s, dir, "events").select(col("event_id"), col("event_type"), col("value")).limit(5),
      lastId + 1000)
    val after = VersionedTable.read(s, root)
      .agg(org.apache.spark.sql.functions.sum("n_events")).collect()(0).getLong(0)
    val beforeN = before.toSeq.map(_.getAs[Long]("n_events")).sum
    assert(after == beforeN + 5, s"new epoch should add 5 rows: $beforeN -> $after")
    assert(out.nonEmpty)
  }

  test("sw15: streaming SCD2 emits the watermark-closed prefix across batches, " +
      "timers close idle keys, ties order by event_id, filtered keys stay out") {
    import org.apache.spark.sql.functions._
    import graft.queries.StreamingGate
    val s = SparkEntry.configure(spark.newSession())
    import s.implicits._
    implicit val sq = s.sqlContext
    def us(t: String) = ts(t).getTime * 1000L
    // (event_id, ts, user_id, event_type, value)
    type E = (Long, Timestamp, Long, String, Double)
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val out = StreamingGate.scd2Stream(s,
      stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"))
    val q = startMemorySink(out, "sw15_pin", OutputMode.Append())
    def emitted() = s.table("sw15_pin").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toSet
    try {
      // batch 1: key (10,click) gets 3 versions; key (20,view) gets a
      // same-timestamp tie (ids 100,101) plus a successor; user 7 is
      // outside the user_id % 10 = 0 sample
      stream.addData(
        (1L, ts("2024-01-01 10:00:00"), 10L, "click", 1.0): E,
        (2L, ts("2024-01-01 10:05:00"), 10L, "click", 2.0): E,
        (3L, ts("2024-01-01 12:00:00"), 10L, "click", 3.0): E,
        (100L, ts("2024-01-01 10:00:00"), 20L, "view", 9.0): E,
        (101L, ts("2024-01-01 10:00:00"), 20L, "view", 8.0): E,
        (102L, ts("2024-01-01 11:00:00"), 20L, "view", 7.0): E,
        (999L, ts("2024-01-01 10:00:00"), 7L, "click", 0.0): E)
      q.processAllAvailable()
      // the data batch advances the watermark to 12:00 − 10 min = 11:50
      // and the engine's trailing no-data batch fires the armed timers
      // under it: key 10 seals v1 only (v2's valid_to 12:00 > wm); key
      // 20's same-timestamp tie seals in event_id order — TIMER path,
      // the key saw exactly one data batch
      assert(emitted() == Set(
        (10L, "click", 1L, 100L, 1L, us("2024-01-01 10:00:00"), us("2024-01-01 10:05:00")),
        (20L, "view", 100L, 900L, 1L, us("2024-01-01 10:00:00"), us("2024-01-01 10:00:00")),
        (20L, "view", 101L, 800L, 2L, us("2024-01-01 10:00:00"), us("2024-01-01 11:00:00"))),
        s"after batch 1: ${emitted()}")
      // each later batch advances the watermark by an hour and must seal
      // exactly one more version of key 10 — the contiguous prefix walk
      stream.addData((4L, ts("2024-01-01 13:00:00"), 10L, "click", 4.0): E)
      q.processAllAvailable() // wm 12:50 → v2 [10:05, 12:00) seals
      assert(emitted().count(_._1 == 10L) == 2, s"after batch 2: ${emitted()}")
      stream.addData((5L, ts("2024-01-01 14:00:00"), 10L, "click", 5.0): E)
      q.processAllAvailable() // wm 13:50 → v3 [12:00, 13:00) seals
      stream.addData((6L, ts("2024-01-01 15:00:00"), 10L, "click", 6.0): E)
      q.processAllAvailable() // wm 14:50 → v4 [13:00, 14:00) seals
      val fin = emitted()
      assert(fin.count(_._1 == 10L) == 4 && fin.count(_._1 == 20L) == 2, s"final: $fin")
      assert(fin.filter(_._1 == 10L).map(r => (r._5, r._3)) ==
        Set((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)),
        "key 10 versions must be the contiguous prefix in event order")
      assert(!fin.exists(_._1 == 7L), "sampled-out key leaked")
      // nothing open was emitted: every row's valid_to is a real seal
      assert(fin.forall(r => r._7 >= r._6), s"interval edges inverted: $fin")
    } finally q.stop()
  }
  test("sw16: window sample state is bounded and evicts with the watermark") {
    import org.apache.spark.sql.functions._
    val s = SparkEntry.configure(spark.newSession())
    val out = SparkEntry.queries("sw16_stream_sample")(s, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    // every emitted window's sample is trimmed to k and its median is a
    // real member value (non-null whenever the window had events)
    assert(out.forall(_.getAs[Long]("sample_n") <= 8L), "sample exceeded k")
    assert(out.forall(r => r.getAs[Long]("sample_n") > 0 ==
      !r.isNullAt(r.fieldIndex("sample_median_c"))))
    // the memory-sink query has terminated; its final progress must show
    // state rows only for windows the final watermark left OPEN — the
    // tail beyond (max ts - 10 min), a handful of windows, never the
    // full 720-window history
    val prog = s.streams.active.headOption // drained: none active
    assert(prog.isEmpty, "AvailableNow query must have terminated")
  }
}
