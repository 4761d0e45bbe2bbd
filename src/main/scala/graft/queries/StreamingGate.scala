package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Oracle-checked Structured Streaming entries (VERDICT r7 gap #3: the
  * streaming surface was spec-gated only — StreamingSpec proves
  * streaming==batch per operator, but no gate entry actually EXECUTED a
  * streaming query against the DuckDB oracle).
  *
  * Each entry here runs a real micro-batch stream — file source over the
  * events parquet, Trigger.AvailableNow, memory sink — and returns the
  * sink table. The oracle states the append-mode watermark contract
  * portably: a window is emitted iff its end is at or below the final
  * watermark (max event time minus the delay), so a hash match proves
  * Spark's watermark/eviction semantics, not just the aggregation.
  *
  * Scale posture: the same plan on a real cluster is the canonical
  * watermarked tumbling aggregate — state bounded by open windows,
  * map-side partial aggregation before the (window, type) shuffle. The
  * memory sink and AvailableNow trigger are gate harness choices, not
  * part of the operator.
  */
object StreamingGate extends QueryModule {

  /** Streaming twin of Tables.events: schema from the file footer (the
    * driver has regenerated testdata with three ts encodings so far —
    * TIMESTAMP(NANOS) as long, us-NTZ, us-UTC), then normalize ts to the
    * session type exactly like the batch loader so both engines agree.
    */
  private def eventStream(s: SparkSession, dir: String): DataFrame = {
    // both table layouts (plain file / part-file directory) stream via
    // the shared source helper — graft.streaming.EventStream.streamSource
    // has the story
    val raw = graft.streaming.EventStream.streamSource(s, dir, "events")
    val ts = raw.schema("ts").dataType match {
      case LongType => timestamp_micros(expr("ts DIV 1000"))
      case _        => col("ts").cast(TimestampType)
    }
    raw.select(col("event_id"), ts.as("ts"), col("user_id"),
      col("event_type"), col("value"))
  }

  /** Drain a streaming frame through a memory sink and return the sink
    * table. AvailableNow processes the backlog in micro-batches and stops;
    * the trailing no-data batch (noDataMicroBatches, on by default) lets
    * the final watermark close windows before the query ends.
    */
  private def drain(s: SparkSession, dir: String, df: DataFrame, name: String): DataFrame = {
    graft.streaming.EventStream.withStatePartitions(
      s, graft.streaming.EventStream.statePartitionsFor(s, dir)) {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    s.table(name)
  }

  // ---------------------------------------------------------------- sw2
  // Watermarked hourly tumbling aggregate, append mode: only windows the
  // 10-minute watermark has closed are emitted. Cents-integer sum per the
  // ev1 lesson (decimal->double drifts an ulp across engines).
  private def streamHourly(s: SparkSession, dir: String): DataFrame = {
    val agg = eventStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100).cast(LongType)).cast(DoubleType) / lit(100.0))
          .as("sum_value"))
      .select(col("w.start").as("bucket_hour"), col("event_type"),
        col("n_events"), col("sum_value"))
    drain(s, dir, agg, "sw2_mem")
      .orderBy(col("bucket_hour").asc_nulls_first, col("event_type").asc_nulls_first)
  }

  // The portable statement of append-mode emission: final watermark is
  // max(ts) - 10 minutes; an hour bucket is emitted iff bucket + 1h <=
  // watermark. (Spark closes a window when watermark >= window.end.)
  private val streamHourlySql =
    """WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events)
      |SELECT date_trunc('hour', ts) AS bucket_hour, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |HAVING bucket_hour + INTERVAL 1 HOUR <= (SELECT w FROM wm)
      |ORDER BY bucket_hour NULLS FIRST, event_type NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- sw3
  // Streaming session windows (30-minute gap), append mode: a session is
  // emitted once the watermark passes its end (last event + gap). Same
  // shape as sw1's native batch session_window, but actually executed as
  // a stateful streaming query; the oracle is sw1's manual lag/flag
  // construction restricted to watermark-closed sessions.
  private def streamSessions(s: SparkSession, dir: String): DataFrame = {
    val agg = eventStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
    drain(s, dir, agg, "sw3_mem")
      .orderBy(col("user_id").asc_nulls_first, col("session_start").asc_nulls_first)
  }

  private val streamSessionsSql =
    """WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
      |g AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(epoch_us(ts)) OVER win IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER win > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS sid
      |  FROM g)
      |SELECT user_id, MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS session_end, COUNT(*) AS n_events
      |FROM s GROUP BY user_id, sid
      |HAVING session_end <= (SELECT w FROM wm)
      |ORDER BY user_id NULLS FIRST, session_start NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- sw4
  // Streaming deduplication with watermark-bounded state
  // (dropDuplicatesWithinWatermark): every odd event_id is planted
  // TWICE (identical rows, the exactly-once-ingest failure mode a
  // streaming dedup exists for), and the stateful operator must emit
  // each event exactly once. The oracle is simply the distinct source
  // table — a hash match proves the dedup state caught every planted
  // copy and passed every singleton through untouched (a failed dedup
  // doubles the odd ids; an over-eager one drops rows). State is keyed
  // by event_id and EVICTED once the watermark passes the row's event
  // time + delay — at 100 TB/day the state store holds one key per
  // event inside the 10-minute horizon, not per event ever seen (the
  // plain dropDuplicates footgun this entry deliberately avoids).
  private def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val dedup = eventStream(s, dir)
      .withColumn("copy",
        explode(when(col("event_id") % 2 === 1, array(lit(0), lit(1)))
          .otherwise(array(lit(0)))))
      .drop("copy")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    drain(s, dir, dedup, "sw4_mem")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id").asc_nulls_first)
  }

  private val streamDedupSql =
    """SELECT event_id, ts, user_id, event_type, value
      |FROM events
      |ORDER BY event_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- sw5
  // Stream-STREAM interval join, the attribution workhorse (view →
  // purchase within 30 minutes, per user): two independently watermarked
  // streams of the same source, inner-joined on the key plus an event-time
  // range. The oracle is the plain batch interval join — for an INNER
  // stream-stream join the watermark bounds STATE (a buffered view is
  // dropped once the purchase-side watermark passes vts + 30min; late
  // rows beyond it would be lost), not the result, so the hash match
  // proves the streaming join emits exactly the batch join's pairs.
  // Both time conditions are REQUIRED for state cleanup: without the
  // upper bound Spark must buffer every view forever. The delay is
  // spelled (Δus) DIV 1e6 identically on both sides (flooring each
  // operand first can differ by one across the subtraction).
  private def streamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val views = eventStream(s, dir).filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("vts"))
      .withWatermark("vts", "10 minutes")
    val purchases = eventStream(s, dir).filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("pts"))
      .withWatermark("pts", "10 minutes")
    val joined = views.join(purchases,
      col("user_id") === col("p_user") &&
        col("pts") >= col("vts") &&
        col("pts") <= col("vts") + expr("INTERVAL 30 MINUTES"))
      .select(col("view_id"), col("purchase_id"), col("user_id"),
        expr("(unix_micros(pts) - unix_micros(vts)) DIV 1000000").as("delay_s"))
    drain(s, dir, joined, "sw5_mem")
      .orderBy(col("view_id").asc_nulls_first, col("purchase_id").asc_nulls_first)
  }

  private val streamStreamJoinSql =
    """SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
      |  (epoch_us(p.ts) - epoch_us(v.ts)) // 1000000 AS delay_s
      |FROM events v JOIN events p
      |  ON v.user_id = p.user_id
      |  AND v.event_type = 'view' AND p.event_type = 'purchase'
      |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
      |ORDER BY view_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- sw6
  // Watermarked streaming DISTINCT-user census via the KMV sketch — the
  // mergeable-sketch-in-streaming-state composition: per (hour, type)
  // window the state store holds ONE serialized bounded sketch buffer
  // (≤ 2k longs), updated per micro-batch and merged across them,
  // instead of one state row per distinct user (the exact streaming
  // COUNT(DISTINCT) shape, which Spark refuses in append mode for
  // precisely that state-size reason). The gate is hash-EXACT, not
  // bounded: per-window user cardinality sits far below k = 8192 at
  // every test scale, and below k the sketch IS the distinct count —
  // past k the same plan degrades to a 1.1%-sigma estimate instead of
  // unbounded state. Emission contract restated like sw2: a window is
  // emitted iff its end is at or below the final watermark.
  private def streamDistinctUsers(s: SparkSession, dir: String): DataFrame = {
    val agg = eventStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        graft.functions.NdvSketch.ndvSketch(col("user_id")).as("distinct_users"),
        count(lit(1)).as("n_events"))
      .select(col("w.start").as("bucket_hour"), col("event_type"),
        col("distinct_users"), col("n_events"))
    drain(s, dir, agg, "sw6_mem")
      .orderBy(col("bucket_hour").asc_nulls_first, col("event_type").asc_nulls_first)
  }

  private val streamDistinctUsersSql =
    """WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events)
      |SELECT date_trunc('hour', ts) AS bucket_hour, event_type,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users,
      |  COUNT(*) AS n_events
      |FROM events
      |GROUP BY 1, 2
      |HAVING bucket_hour + INTERVAL 1 HOUR <= (SELECT w FROM wm)
      |ORDER BY bucket_hour NULLS FIRST, event_type NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- sw7
  // Stream-STATIC enrichment join — the remaining streaming-join
  // modality after sw5's stream-stream: every event enriched with its
  // user's nation from a broadcast batch dimension, then rolled into a
  // watermarked hourly census per nation. The join is STATELESS (no
  // watermark bookkeeping, no join state store — the dim is a plain
  // broadcast against each micro-batch), which is exactly why it is the
  // canonical streaming enrichment shape at 100 TB/day: per-row map-side
  // work, state only in the downstream windowed aggregate. LEFT join,
  // and the dimension deliberately EXCLUDES a third of the users
  // (c_custkey % 3 == 0), so unmatched events flow through with a NULL
  // nation and surface as their own census group — a hash match proves
  // outer-join pass-through, not just the happy path. Emission contract
  // restated like sw2: a window is emitted iff its end is at or below
  // the final watermark.
  private def streamStaticEnrich(s: SparkSession, dir: String): DataFrame = {
    val dim = graft.Tables(s, dir, "customer")
      .filter(col("c_custkey") % 3 =!= 0)
      .join(graft.Tables(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("user_id"), col("n_name").as("nation"))
    val agg = eventStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .join(broadcast(dim), Seq("user_id"), "left")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("nation"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("bucket_hour"), col("nation"), col("n_events"))
    drain(s, dir, agg, "sw7_mem")
      .orderBy(col("bucket_hour").asc_nulls_first, col("nation").asc_nulls_first)
  }

  private val streamStaticEnrichSql =
    """WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
      |dim AS (
      |  SELECT c_custkey AS user_id, n_name AS nation
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  WHERE c_custkey % 3 <> 0)
      |SELECT date_trunc('hour', ts) AS bucket_hour, d.nation, COUNT(*) AS n_events
      |FROM events e LEFT JOIN dim d USING (user_id)
      |GROUP BY 1, 2
      |HAVING bucket_hour + INTERVAL 1 HOUR <= (SELECT w FROM wm)
      |ORDER BY bucket_hour NULLS FIRST, nation NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- sw9
  // Stream-STREAM LEFT OUTER interval join — sw5's inner join answers
  // "which views converted"; the outer variant answers the harder
  // production question "which views did NOT" (abandonment), and its
  // semantics are genuinely different: a matched pair emits as soon as
  // both rows arrive, but a NULL-extended view emits only when the
  // purchase-side watermark proves no future match can exist — i.e.
  // when the view's join state EXPIRES at vts + 30min. Views whose
  // match window is still open at the final watermark are withheld
  // entirely (not emitted as unmatched — they might yet convert), and
  // the oracle restates exactly that three-way contract: matched pairs
  // unconditionally, NOT-EXISTS views only below the watermark
  // horizon, open-window views absent. The horizon uses the GLOBAL
  // watermark, which Spark computes as the MIN over both streams'
  // watermarks (multipleWatermarkPolicy = min, the default) — here
  // LEAST(max view ts, max purchase ts) − 10min, NOT max(ts) overall:
  // the view stream ends an hour before the purchase stream in the
  // test data, and the min policy is precisely what keeps a slow
  // stream's rows from being declared dead by a fast one.
  // purchase_id/delay carry a −1 sentinel instead of NULL on both
  // sides (a nullable BIGINT reaches pandas as float64 and breaks the
  // dtype-strict compare).
  private def streamStreamOuter(s: SparkSession, dir: String): DataFrame = {
    val views = eventStream(s, dir).filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("vts"))
      .withWatermark("vts", "10 minutes")
    val purchases = eventStream(s, dir).filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("pts"))
      .withWatermark("pts", "10 minutes")
    val joined = views.join(purchases,
      col("user_id") === col("p_user") &&
        col("pts") >= col("vts") &&
        col("pts") <= col("vts") + expr("INTERVAL 30 MINUTES"),
      "leftOuter")
      .select(col("view_id"), col("user_id"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        coalesce(expr("(unix_micros(pts) - unix_micros(vts)) DIV 1000000"), lit(-1L))
          .as("delay_s"))
    drain(s, dir, joined, "sw9_mem")
      .orderBy(col("view_id").asc_nulls_first, col("purchase_id").asc_nulls_first)
  }

  private val streamStreamOuterSql =
    """WITH v AS (SELECT event_id AS view_id, user_id, ts AS vts
      |      FROM events WHERE event_type = 'view'),
      |p AS (SELECT event_id AS purchase_id, user_id, ts AS pts
      |      FROM events WHERE event_type = 'purchase'),
      |wm AS (SELECT LEAST((SELECT max(vts) FROM v), (SELECT max(pts) FROM p))
      |         - INTERVAL 10 MINUTE AS w)
      |SELECT v.view_id, v.user_id, p.purchase_id,
      |  (epoch_us(p.pts) - epoch_us(v.vts)) // 1000000 AS delay_s
      |FROM v JOIN p ON v.user_id = p.user_id
      |  AND p.pts >= v.vts AND p.pts <= v.vts + INTERVAL 30 MINUTE
      |UNION ALL
      |SELECT v.view_id, v.user_id, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
      |FROM v
      |WHERE NOT EXISTS (
      |    SELECT 1 FROM p WHERE p.user_id = v.user_id
      |      AND p.pts >= v.vts AND p.pts <= v.vts + INTERVAL 30 MINUTE)
      |  AND v.vts + INTERVAL 30 MINUTE < (SELECT w FROM wm)
      |ORDER BY view_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- sw8
  // Watermarked streaming TOP-K in state — the second bounded-state
  // sketch composition after sw6's KMV: per (hour, type) window the
  // state store holds ONE sorted ≤3-element buffer (the BoundedTopKAgg
  // list), updated per micro-batch and merged across them, instead of
  // every (value, event_id) pair ever seen — the "trending items"
  // streaming shape, whose naive spelling (windowed rank) Spark refuses
  // in append mode outright (no windowed row_number over a stream) and
  // whose collect-then-sort spelling holds the whole window in state.
  // The top-3 largest value_cents per window with event_id tie-break is
  // DETERMINISTIC, so the gate is hash-exact against the oracle's
  // row_number restatement; the post-aggregation posexplode is
  // stateless and runs on emitted (closed) windows only. Emission
  // contract restated like sw2.
  private def streamTopK(s: SparkSession, dir: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKAgg(3))
    val agg = eventStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(topk(round(col("value") * 100).cast(LongType), col("event_id")).as("hits"))
      .select(col("w.start").as("bucket_hour"), col("event_type"),
        posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("bucket_hour"), col("event_type"), (col("pos") + 1).as("rank"),
        col("hit.score").as("value_cents"), col("hit.id").as("event_id"))
    drain(s, dir, agg, "sw8_mem")
      .orderBy(col("bucket_hour").asc_nulls_first, col("event_type").asc_nulls_first,
        col("rank").asc_nulls_first)
  }

  private val streamTopKSql =
    """WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
      |r AS (
      |  SELECT date_trunc('hour', ts) AS bucket_hour, event_type,
      |    CAST(round(value * 100) AS BIGINT) AS value_cents, event_id,
      |    row_number() OVER (
      |      PARTITION BY date_trunc('hour', ts), event_type
      |      ORDER BY CAST(round(value * 100) AS BIGINT) DESC, event_id ASC) AS rnk
      |  FROM events)
      |SELECT bucket_hour, event_type, CAST(rnk AS INT) AS rank, value_cents, event_id
      |FROM r
      |WHERE rnk <= 3 AND bucket_hour + INTERVAL 1 HOUR <= (SELECT w FROM wm)
      |ORDER BY bucket_hour NULLS FIRST, event_type NULLS FIRST, rank NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- sw10
  /** CUSTOM sessionization via flatMapGroupsWithState — the same
    * 30-minute-gap / 10-minute-watermark session semantics as sw3's
    * built-in `session_window`, re-implemented as arbitrary
    * EventTimeTimeout state (the escape hatch a real pipeline reaches
    * for when sessions need custom close rules, per-session payloads,
    * or speculative emission the built-in cannot express). The oracle
    * is sw3's lag/flag construction — a hash match proves the custom
    * state machine reproduces Spark's own sessionization exactly:
    * out-of-order merge (each batch's events are interval-merged into
    * the open-session list, coalescing sessions a late event bridges),
    * watermark-gated emission (a session is emitted iff
    * last + gap ≤ watermark — flushed on BOTH the data path and the
    * timeout path, so the ≥-closes contract holds at equality where
    * Spark's timeout alone fires strictly-after), and tail withholding
    * (sessions past the final watermark stay in state, unemitted).
    *
    * Scale posture: state per user is the OPEN session list (almost
    * always 1 entry — bounded by out-of-orderness within the
    * watermark, never by history); timeouts are set to the earliest
    * open end, so idle keys cost no per-batch work. Timestamps cross
    * the typed boundary as epoch-µs longs and come back via
    * `timestamp_micros` — no Timestamp-encoder timezone coupling.
    *
    * Per-event cost (r15 VERDICT #6 — sw10 wore the family's worst
    * sf10 ratio, 7.5× wall at 100× data, and the growth is work per
    * EVENT, not state size): the per-batch merge is allocation-flat —
    * this batch's times go through a primitive long[] sort + one
    * coalescing pass (no per-event OpenSess seeds, no boxed sortBy
    * keys), then a single linear merge with the already-sorted open
    * list. Same state machine, same emissions, bit-for-bit. The
    * Timestamp field itself cannot be pared from the typed row:
    * event-time timeout requires the watermark-tagged attribute in the
    * FMGWS child plan, so its per-event decode is inherent to the
    * typed-state spelling (sw3's native session_window never leaves
    * Tungsten rows — the residual gap is the boundary itself).
    */
  // public: the Dataset encoders' generated code must see the
  // constructors (a private case class leaves janino only the accessors,
  // failing codegen at runtime)
  case class OpenSess(startUs: Long, lastUs: Long, n: Long)
  case class SessRow(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  private def customSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val GapUs = 30L * 60 * 1000000L
    // the watermark-tagged ts attribute must survive into the FMGWS
    // input (event-time timeout requires it in the child plan), so the
    // typed row keeps all three fields; the µs long is what the state
    // function reads
    val src = eventStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
      .as[(Long, java.sql.Timestamp, Long)]
    val out = src
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[OpenSess], SessRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, evs, state) =>
          val wmUs = state.getCurrentWatermarkMs * 1000L
          // this batch's event times: primitive sort + one coalescing
          // pass into seed sessions (a late event can bridge sessions;
          // the linear state merge below handles that)
          val times = evs.map(_._3).toArray
          java.util.Arrays.sort(times)
          val seedsB = List.newBuilder[OpenSess]
          var i = 0
          while (i < times.length) {
            val start = times(i)
            var last = start
            var n = 1L
            i += 1
            while (i < times.length && times(i) <= last + GapUs) {
              last = times(i); n += 1; i += 1
            }
            seedsB += OpenSess(start, last, n)
          }
          // linear merge of two start-sorted session lists, coalescing
          // any adjacent pair within the gap
          val outB = List.newBuilder[OpenSess]
          var cur: OpenSess = null
          var x = state.getOption.getOrElse(Nil)
          var y = seedsB.result()
          while (x.nonEmpty || y.nonEmpty) {
            val nxt =
              if (y.isEmpty || (x.nonEmpty && x.head.startUs <= y.head.startUs)) {
                val h = x.head; x = x.tail; h
              } else { val h = y.head; y = y.tail; h }
            if (cur == null) cur = nxt
            else if (nxt.startUs <= cur.lastUs + GapUs)
              cur = OpenSess(cur.startUs, math.max(cur.lastUs, nxt.lastUs), cur.n + nxt.n)
            else { outB += cur; cur = nxt }
          }
          if (cur != null) outB += cur
          val merged = outB.result()
          // emit sessions the watermark has closed (>= at equality — the
          // session_window contract); keep the rest and arm the timeout
          // for the earliest still-open end
          val (closed, open) = merged.partition(ss => ss.lastUs + GapUs <= wmUs)
          if (open.isEmpty) state.remove()
          else {
            state.update(open)
            val earliestEndMs = open.map(ss => (ss.lastUs + GapUs) / 1000L).min
            state.setTimeoutTimestamp(
              math.max(earliestEndMs - 1L, state.getCurrentWatermarkMs + 1L))
          }
          closed.iterator.map(ss =>
            SessRow(uid, ss.startUs, ss.lastUs + GapUs, ss.n))
      }
      .select(col("user_id"),
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("end_us")).as("session_end"),
        col("n_events"))
    // the adaptive sizing serves both of sw10's regimes: minimal store
    // count at gate volume, core-count parallelism for the per-key
    // CPU-bound merge at sf10's 5M users
    drain(s, dir, out, "sw10_mem")
      .orderBy(col("user_id").asc_nulls_first, col("session_start").asc_nulls_first)
  }

  // ---------------------------------------------------------------- sw11
  /** The STATE-V2 arbitrary-state operator (`transformWithState`,
    * Spark 4's successor to flatMapGroupsWithState) under the oracle:
    * sw2's watermarked hourly tumbling aggregate re-expressed as a
    * [[org.apache.spark.sql.streaming.StatefulProcessor]] with typed
    * [[org.apache.spark.sql.streaming.MapState]] (window-start →
    * running (count, cents)) and per-window EVENT-TIME TIMERS — the
    * API a production pipeline reaches for when windows need custom
    * merge/emit rules the built-in aggregate cannot express. The
    * oracle is sw2's SQL: a hash match proves the processor's window
    * assignment, accumulation, and watermark-gated emission reproduce
    * Spark's own tumbling-window semantics exactly.
    *
    * Emission is computed from the WATERMARK on both paths, never
    * trusted to timer edge semantics: each batch's data path and each
    * expired timer flush every window with end ≤ current watermark
    * (sw10's dual-path lesson — the ≥-closes contract must hold at
    * equality, where a timer alone fires strictly-after). One timer
    * per window, registered at creation (end − 1 ms), so idle keys
    * cost nothing and no timer churn accumulates.
    *
    * Scale posture: state per (event_type) key is the OPEN window map
    * — bounded by out-of-orderness within the watermark, and held in
    * the RocksDB state store provider (the state-v2 requirement),
    * i.e. spillable off-heap state rather than executor heap — the
    * 100 TB posture for wide-key stateful streams.
    */
  // public for janino: the typed pipeline's generated code needs the
  // constructors (sw10's lesson)
  case class SwEvent(event_type: String, us: Long, cents: Long)
  case class WinAgg(n: Long, cents: Long)
  case class HourRow(event_type: String, start_us: Long, n_events: Long, cents: Long)

  private val HourUs = 3600L * 1000000L

  class HourlyTwsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, SwEvent, HourRow] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState, TTLConfig, TimeMode, TimerValues}
    import org.apache.spark.sql.{Encoder, Encoders}
    @transient private var wins: MapState[Long, WinAgg] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      implicit val wa: Encoder[WinAgg] = Encoders.product[WinAgg]
      wins = getHandle.getMapState[Long, WinAgg](
        "wins", Encoders.scalaLong, wa, TTLConfig.NONE)
    }

    private def flush(et: String, wmUs: Long): Iterator[HourRow] = {
      val closed = wins.iterator()
        .filter { case (st, _) => st + HourUs <= wmUs }.toList.sortBy(_._1)
      closed.foreach { case (st, _) => wins.removeKey(st) }
      closed.iterator.map { case (st, a) => HourRow(et, st, a.n, a.cents) }
    }

    override def handleInputRows(
        key: String, rows: Iterator[SwEvent], tv: TimerValues): Iterator[HourRow] = {
      rows.foreach { e =>
        val st = e.us - (e.us % HourUs)
        if (!wins.containsKey(st)) {
          wins.updateValue(st, WinAgg(1L, e.cents))
          getHandle.registerTimer((st + HourUs) / 1000L - 1L)
        } else {
          val a = wins.getValue(st)
          wins.updateValue(st, WinAgg(a.n + 1L, a.cents + e.cents))
        }
      }
      flush(key, tv.getCurrentWatermarkInMs() * 1000L)
    }

    override def handleExpiredTimer(
        key: String, tv: TimerValues, info: ExpiredTimerInfo): Iterator[HourRow] =
      flush(key, tv.getCurrentWatermarkInMs() * 1000L)
  }

  private def twsHourly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val src = eventStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast(LongType).as("cents"))
      .as[SwEvent]
    val out = src.groupByKey(_.event_type)
      .transformWithState(new HourlyTwsProcessor,
        TimeMode.EventTime(), OutputMode.Append())
      .select(timestamp_micros(col("start_us")).as("bucket_hour"),
        col("event_type"), col("n_events"),
        (col("cents").cast(DoubleType) / lit(100.0)).as("sum_value"))
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    drain(s, dir, out, "sw11_mem")
      .orderBy(col("bucket_hour").asc_nulls_first, col("event_type").asc_nulls_first)
  }

  // ---------------------------------------------------------------- sw12
  /** Exactly-once streaming SINK — the delivery-guarantee leg the sw
    * family was missing: Structured Streaming is exactly-once only up to
    * its checkpoint; after a crash it REPLAYS the last uncommitted
    * epoch, so any external sink must be idempotent per (batchId) or
    * the pipeline silently double-counts. This entry runs a real
    * multi-batch stream (events staged as 4 files, maxFilesPerTrigger=1
    * under AvailableNow → 4 micro-batches) through `foreachBatch` into a
    * [[graft.sinks.VersionedTable]]: each batch's delta aggregate merges
    * with the committed summary and publishes atomically with the
    * batchId recorded INSIDE the commit marker — data visibility and the
    * transaction tag are one rename. [[eosApply]] skips a batchId it has
    * already seen, so a replayed epoch is a no-op (StreamingSpec pins
    * the replay; the oracle proves the merged result equals the plain
    * batch aggregate over all events).
    *
    * Scale posture: this is Delta's `txn`/idempotent-writes protocol in
    * miniature — the standard shape for stream → warehouse delivery.
    * State lives in the table, not the executor; each micro-batch does
    * one bounded merge (grouped summary + delta) and one atomic rename.
    * Retention keeps the newest two markers, which is exactly the
    * replay window Structured Streaming needs (only the LAST epoch can
    * replay); deeper history is vacuum policy.
    */
  private[graft] def eosRoot(s: SparkSession, dir: String): String =
    graft.Scratch.root(s, "sw12", dir)

  /** The idempotent per-batch apply: skip if this batchId's tag is
    * already in the retained markers, else merge-and-publish with the
    * tag riding the commit marker.
    */
  private[graft] def eosApply(s: SparkSession, root: String)(
      batch: DataFrame, batchId: Long): Unit = {
    import graft.sinks.VersionedTable
    val tag = s"batch=$batchId"
    if (VersionedTable.committedMetas(s, root).exists(_._2 == tag)) return
    val delta = batch.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast(LongType)).as("sum_cents"))
    val merged =
      if (VersionedTable.committedVersion(s, root).isEmpty) delta
      else VersionedTable.read(s, root).unionByName(delta)
        .groupBy(col("event_type"))
        .agg(sum(col("n_events")).as("n_events"),
          sum(col("sum_cents")).as("sum_cents"))
    VersionedTable.publish(s, root, merged, meta = tag)
    ()
  }

  private def streamExactlyOnce(s: SparkSession, dir: String): DataFrame = {
    import graft.sinks.VersionedTable
    val root = graft.Scratch.once(s, "sw12", dir) { root =>
      VersionedTable.drop(s, root)
      val staging = root + "_staging"
      val ckpt = root + "_ckpt"
      graft.Tables(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .repartition(4)
        .write.mode("overwrite").parquet(staging)
      val schema = s.read.parquet(staging).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staging)
      // the override covers the per-batch aggregates eosApply runs:
      // 32 partitions for a 1/4-corpus batch is pure task overhead
      graft.streaming.EventStream.withStatePartitions(
        s, graft.streaming.EventStream.statePartitionsFor(s, dir, "events")) {
        val q = stream.writeStream
          .foreachBatch((df: DataFrame, id: Long) => eosApply(s, root)(df, id))
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
      }
    }
    VersionedTable.read(s, root).orderBy(col("event_type").asc_nulls_first)
  }

  private val streamExactlyOnceSql =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events GROUP BY event_type
      |ORDER BY event_type NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- sw16
  /** STREAMING deterministic sampling — dq17's bottom-k-by-md5 sample
    * ([[graft.functions.SampleSketch]]) maintained in watermarked
    * streaming STATE, the ingest-time shape of the sample cube: per
    * (hour window, type), the state store holds one bounded sample
    * buffer, merged across micro-batches. Where sw6's KMV twin is
    * exact only below k, this one is hash-EXACT at every k — the
    * bottom-k multiset is exactly mergeable and a pure function of the
    * data, so the streamed samples (and their medians) equal the batch
    * window spelling bit-for-bit, which is what the oracle executes.
    * Emission contract restated like sw2/sw6: a window is emitted iff
    * its end is at or below the final watermark.
    *
    * Scale posture: state per open window is ≤ 2k (hash, value) pairs
    * regardless of event volume; closed windows evict with the
    * watermark; map-side partials trim before the shuffle.
    */
  private val Sw16K = 8

  private def streamSample(s: SparkSession, dir: String): DataFrame = {
    val agg = eventStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .select(col("ts"), col("event_type"),
        md5(concat(lit("sw16:"), col("event_id").cast("string"))).as("h"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(graft.functions.SampleSketch.sampleSet(col("h"), col("v"), Sw16K).as("sk"),
        count(lit(1)).as("n_events"))
      .select(col("w.start").as("bucket_hour"), col("event_type"),
        size(col("sk")).cast(LongType).as("sample_n"),
        expr("element_at(array_sort(transform(sk, x -> x.v)), " +
          "CAST((size(sk) + 1) DIV 2 AS INT))").as("sample_median_c"),
        col("n_events"))
    drain(s, dir, agg, "sw16_mem")
      .orderBy(col("bucket_hour").asc_nulls_first, col("event_type").asc_nulls_first)
  }

  private val streamSampleSql =
    s"""WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
       |base AS (
       |  SELECT date_trunc('hour', ts) AS bucket_hour, event_type,
       |    md5('sw16:' || CAST(event_id AS VARCHAR)) AS h,
       |    CAST(round(value * 100) AS BIGINT) AS v
       |  FROM events),
       |grp AS (SELECT bucket_hour, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
       |        FROM base GROUP BY bucket_hour, event_type),
       |samp AS (
       |  SELECT bucket_hour, event_type, v FROM (
       |    SELECT bucket_hour, event_type, v,
       |      row_number() OVER (PARTITION BY bucket_hour, event_type
       |        ORDER BY h, v) AS rn
       |    FROM base)
       |  WHERE rn <= $Sw16K),
       |medv AS (
       |  SELECT bucket_hour, event_type,
       |    CAST(sn AS BIGINT) AS sample_n, v AS sample_median_c FROM (
       |    SELECT bucket_hour, event_type, v,
       |      row_number() OVER (PARTITION BY bucket_hour, event_type
       |        ORDER BY v NULLS FIRST) AS mrn,
       |      COUNT(*) OVER (PARTITION BY bucket_hour, event_type) AS sn
       |    FROM samp)
       |  WHERE mrn = (sn + 1) // 2)
       |SELECT g.bucket_hour, g.event_type, m.sample_n, m.sample_median_c,
       |  g.n_events
       |FROM grp g JOIN medv m USING (bucket_hour, event_type)
       |WHERE g.bucket_hour + INTERVAL 1 HOUR <= (SELECT w FROM wm)
       |ORDER BY g.bucket_hour NULLS FIRST, g.event_type NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- sw17
  /** STREAMING quantile monitor — dq19's mergeable q-digest
    * ([[graft.functions.QdigestSketch]]) maintained in watermarked
    * streaming STATE, the latency-SLO shape every 100 TB pipeline runs
    * (r15 VERDICT #8's second half; sw16 is the sampling twin, sw6 the
    * NDV twin). Per (hour window, type) the state store holds one
    * bounded digest, merged across micro-batches; emitted windows carry
    * the percentile answers. A digest's raw VALUES legally vary with
    * merge topology, so the gate audits the streamed answers against
    * EXACT per-window ranks computed batch-side in the same job
    * (dq15/dq19's contract pattern) and outputs only the bound flags —
    * which the oracle states TRUE alongside the exact per-window
    * counts and the sw2/sw16 emission contract (a window is emitted
    * iff its end ≤ the final watermark).
    *
    * Scale posture: state per open window is O(k) digest nodes
    * regardless of event volume; closed windows evict with the
    * watermark; map-side partials compress before the shuffle. At gate
    * scale per-window n < k, so the digests are exact and the flags
    * can't flake; at production n the ε = L/k contract takes over —
    * dq19 gates that regime on 600k rows.
    */
  private val Sw17Ps = Seq(500, 900, 990)

  private def streamQuantileMonitor(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.QdigestSketch
    val vcents = QdigestSketch.clampedCents("value")
    val agg = eventStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .select(col("ts"), col("event_type"), vcents.as("v"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(QdigestSketch.qdAnswers(col("v"), Sw17Ps).as("qs"),
        // non-null inputs only (r16 ADVICE): the digest skips NULLs, so
        // the rank-target denominator must too
        count(col("v")).as("n_events"))
      .select(col("w.start").as("bucket_hour"), col("event_type"),
        col("qs"), col("n_events"))
    val qa = drain(s, dir, agg, "sw17_mem")
      .select(col("bucket_hour"), col("event_type"), col("n_events"),
        posexplode(col("qs")).as(Seq("i", "a")))
      .withColumn("p_milli",
        expr(s"element_at(array(${Sw17Ps.mkString("L,")}L), CAST(i AS INT) + 1)"))
    // batch-side exact rank audit of the STREAMED answers; only emitted
    // windows appear in qa, so the join also applies the emission filter
    val base = graft.Tables(s, dir, "events")
      .select(date_trunc("hour", col("ts")).as("bucket_hour"),
        col("event_type"), vcents.as("v"))
    base.join(broadcast(qa), Seq("bucket_hour", "event_type"))
      .groupBy(col("bucket_hour"), col("event_type"), col("p_milli"),
        col("n_events"), col("a"))
      .agg(
        sum(when(col("v") <= col("a"), 1L).otherwise(0L)).as("rle"),
        sum(when(col("v") < col("a"), 1L).otherwise(0L)).as("rlt"))
      .select(col("bucket_hour"), col("event_type"), col("p_milli"), col("n_events"),
        ((col("rle") >= expr("n_events * p_milli DIV 1000 - (n_events * 4 DIV 100 + 1)")) &&
          (col("rlt") <= expr("n_events * p_milli DIV 1000 + (n_events * 4 DIV 100 + 1)")))
          .as("within_bound"))
      .orderBy(col("bucket_hour").asc_nulls_first, col("event_type").asc_nulls_first,
        col("p_milli").asc_nulls_first)
  }

  private val streamQuantileSql =
    s"""WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
       |grp AS (
       |  SELECT date_trunc('hour', ts) AS bucket_hour, event_type,
       |    CAST(COUNT(value) AS BIGINT) AS n_events
       |  FROM events GROUP BY 1, 2)
       |SELECT g.bucket_hour, g.event_type, CAST(p_milli AS BIGINT) AS p_milli,
       |  g.n_events, TRUE AS within_bound
       |FROM grp g, (VALUES (500), (900), (990)) AS t(p_milli)
       |WHERE g.bucket_hour + INTERVAL 1 HOUR <= (SELECT w FROM wm)
       |ORDER BY g.bucket_hour NULLS FIRST, g.event_type NULLS FIRST,
       |  p_milli NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- sw15
  /** STREAMING SCD Type-2 — cdc3's versioned-history build maintained
    * incrementally as events arrive, via flatMapGroupsWithState. A
    * change-data stream almost never gets to rebuild the dimension's
    * history from scratch; the production shape is exactly this: per
    * key, buffer the not-yet-final tail, and emit version row i the
    * moment its interval is SEALED — the successor's timestamp (the
    * row's valid_to) is at or below the watermark, so no admissible
    * future event can land inside the interval or reorder it.
    *
    * Append-mode contract (the oracle states it portably): a history
    * row is emitted iff `valid_to_us ≤ final watermark`, where the
    * watermark is stated at Spark's MILLISECOND resolution —
    * `(max(es) // 1000 − delay_ms) · 1000` — because the engine tracks
    * event-time stats in ms (`getCurrentWatermarkMs`); a raw-µs oracle
    * watermark would sit up to 999 µs ABOVE the engine's and claim
    * rows the engine correctly still holds (review find — latent on
    * today's data, armed by any regeneration). Open (is_current) rows
    * stay in state, unemitted. Because valid_to is
    * nondecreasing along each key's history, the emitted set is a
    * PREFIX of the batch history and the in-state version counter
    * reproduces the batch `row_number` exactly — a hash match proves
    * the incremental state machine equals cdc3's full rebuild on the
    * closed prefix. Closure applies the watermark inclusively (≤) on
    * BOTH the data path and the timeout path (sw10's dual-path lesson:
    * a timer alone fires strictly-after the watermark passes).
    *
    * Scale posture: state per (user_id, event_type) is the UNSEALED
    * tail — bounded by out-of-orderness within the watermark delay
    * (almost always 1 open row), never by history length; emitted rows
    * leave state immediately. One timer per key, armed at the earliest
    * pending close, so idle keys cost no per-batch work. Timestamps
    * cross the typed boundary as epoch-µs longs (sw10's convention).
    */
  // public for janino: the typed pipeline's generated code needs the
  // constructors (sw10's lesson)
  case class PendEv(es: Long, eventId: Long, valueC: Long)
  case class Scd2State(nextVersion: Long, pending: List[PendEv])
  case class Scd2Row(user_id: Long, event_type: String, event_id: Long,
      value_c: Long, version: Long, valid_from_us: Long, valid_to_us: Long)

  /** The stateful stage, shared by the gate entry and StreamingSpec's
    * MemoryStream pin. `src` is an events-shaped streaming frame
    * (event_id, ts, user_id, event_type, value).
    */
  private[graft] def scd2Stream(s: SparkSession, src: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val typed = src
      .filter(col("user_id") % 10 === 0 && col("ts").isNotNull)
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("event_type"), col("ts"),
        unix_micros(col("ts")).as("es"), col("event_id"),
        coalesce(round(col("value") * 100).cast(LongType), lit(-1L)).as("value_c"))
      .as[(Long, String, java.sql.Timestamp, Long, Long, Long)]
    typed
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[Scd2State, Scd2Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, evs, state) =>
          val (uid, etype) = key
          val wmUs = state.getCurrentWatermarkMs * 1000L
          val st0 = state.getOption.getOrElse(Scd2State(1L, Nil))
          // merge the batch into the unsealed tail; total in-key order is
          // (es, event_id), the cdc3 window order
          var rest = (st0.pending ++ evs.map(e => PendEv(e._4, e._5, e._6)))
            .sortBy(p => (p.es, p.eventId))
          val emitted = List.newBuilder[Scd2Row]
          var ver = st0.nextVersion
          // pop every interval the watermark has sealed: its valid_to
          // (the successor's timestamp) is at or below the watermark
          while (rest.lengthCompare(2) >= 0 && rest.tail.head.es <= wmUs) {
            val h = rest.head; val succ = rest.tail.head
            emitted += Scd2Row(uid, etype, h.eventId, h.valueC, ver, h.es, succ.es)
            ver += 1
            rest = rest.tail
          }
          // rest is never empty here (data path brings ≥1 event; the
          // timeout path only fires for keys holding state)
          state.update(Scd2State(ver, rest))
          if (rest.lengthCompare(2) >= 0) {
            // arm for the earliest pending close; −1 ms so the timer
            // fires when the watermark REACHES the close (timers alone
            // fire strictly-after), clamped above the current watermark
            // as the API requires
            val closeMs = rest.tail.head.es / 1000L
            state.setTimeoutTimestamp(
              math.max(closeMs - 1L, state.getCurrentWatermarkMs + 1L))
          }
          emitted.result().iterator
      }
      .toDF()
  }

  private def streamScd2(s: SparkSession, dir: String): DataFrame = {
    val out = scd2Stream(s, eventStream(s, dir))
    drain(s, dir, out, "sw15_mem")
      .orderBy(col("user_id").asc_nulls_first, col("event_type").asc_nulls_first,
        col("version").asc_nulls_first)
  }

  private val streamScd2Sql =
    """WITH base AS (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS es,
      |    COALESCE(CAST(round(value * 100) AS BIGINT), -1) AS value_c
      |  FROM events WHERE user_id % 10 = 0 AND ts IS NOT NULL),
      |wm AS (SELECT (max(es) // 1000 - 600000) * 1000 AS wm_us FROM base),
      |hist AS (
      |  SELECT user_id, event_type, event_id, value_c,
      |    CAST(row_number() OVER w AS BIGINT) AS version,
      |    es AS valid_from_us, lead(es) OVER w AS valid_to_us
      |  FROM base
      |  WINDOW w AS (PARTITION BY user_id, event_type
      |               ORDER BY es NULLS FIRST, event_id NULLS FIRST))
      |SELECT h.user_id, h.event_type, h.event_id, h.value_c, h.version,
      |  h.valid_from_us, h.valid_to_us
      |FROM hist h, wm WHERE h.valid_to_us <= wm.wm_us
      |ORDER BY h.user_id NULLS FIRST, h.event_type NULLS FIRST,
      |  h.version NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- sw18
  /** Streaming CRAWL-QUOTA enforcement — the politeness rung of the
    * crawl chain run as a stream (url3 schedules, url2 filters, THIS
    * meters): a fetch scheduler admits at most [[CrawlQuotaCap]]
    * requests per host per UTC day ("crawl budget" in the operator's
    * vocabulary), admission strictly in request-time order, and the
    * decision record — which requests ran, which were deferred — is
    * what the recrawl loop consumes. Quota admission is
    * ORDER-dependent, so unlike sw2/sw11's windowed counts it cannot
    * be a built-in agg: custom state accumulates each host's
    * in-horizon requests and a day window emits exactly once, when the
    * watermark closes it (sw10's dual-path contract — both the data
    * path and the event-time timeout close windows, and the trailing
    * no-data batch flushes the tail).
    *
    * Synthesis: host = user_id % 23, every event a fetch request at
    * its event time. Output per closed (host, day): request count,
    * admitted count (≤ cap), and the ADMITTED/DEFERRED id sums — the
    * id sums make admission ORDER observable to the oracle's hash
    * (counts alone would be order-free least(n, cap) arithmetic; the
    * sums pin WHICH requests the budget admitted: first-by-(ts,
    * event_id)). The oracle restates admission with a row_number over
    * the same order and excludes still-open days via the sw3/sw10
    * watermark clause.
    *
    * Scale posture: keys are hosts, so the exchange is host-grain and
    * the volume-adaptive state partitioning applies as family-wide;
    * state per host is one open day's requests (the quota grain is
    * config — an hour-grain quota shrinks state 24× at the same code
    * path). A 100-TB crawl meters millions of hosts: key cardinality
    * scales with hosts, per-key state with the quota window, neither
    * with corpus history.
    */
  // public: encoder codegen needs the constructors (sw10's lesson)
  case class ReqEv(us: Long, id: Long)
  case class QuotaRow(host: String, win_us: Long, n_req: Long,
      n_admitted: Long, admitted_id_sum: Long, deferred_id_sum: Long)

  private val CrawlQuotaCap = 8
  private val QuotaWinUs = 86400L * 1000000L

  private def crawlQuota(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val winOf = (us: Long) => us - (us % QuotaWinUs)
    val src = eventStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .select(concat(lit("site"), (col("user_id") % 23).cast("string")).as("host"),
        col("ts"), unix_micros(col("ts")).as("us"), col("event_id"))
      .as[(String, java.sql.Timestamp, Long, Long)]
    val out = src.groupByKey(_._1)
      .flatMapGroupsWithState[List[ReqEv], QuotaRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (host, evs, state) =>
          val wmUs = state.getCurrentWatermarkMs * 1000L
          val all = state.getOption.getOrElse(Nil) ++
            evs.map(e => ReqEv(e._3, e._4))
          val (closed, open) = all.partition(r => winOf(r.us) + QuotaWinUs <= wmUs)
          if (open.isEmpty) state.remove()
          else {
            state.update(open)
            val earliestEndMs = open.map(r => (winOf(r.us) + QuotaWinUs) / 1000L).min
            state.setTimeoutTimestamp(
              math.max(earliestEndMs - 1L, state.getCurrentWatermarkMs + 1L))
          }
          closed.groupBy(r => winOf(r.us)).toSeq.sortBy(_._1).iterator
            .map { case (w, rs) =>
              val ordered = rs.sortBy(r => (r.us, r.id))
              val (adm, dfr) = ordered.splitAt(CrawlQuotaCap)
              QuotaRow(host, w, rs.size.toLong, adm.size.toLong,
                adm.map(_.id).sum, dfr.map(_.id).sum)
            }
      }
      .select(col("host"), timestamp_micros(col("win_us")).as("win_start"),
        col("n_req"), col("n_admitted"),
        col("admitted_id_sum"), col("deferred_id_sum"))
    drain(s, dir, out, "sw18_mem")
      .orderBy(col("host").asc_nulls_first, col("win_start").asc_nulls_first)
  }

  private val crawlQuotaSql =
    s"""WITH e AS (
      |  SELECT 'site' || (user_id % 23) AS host,
      |    epoch_us(ts) - epoch_us(ts) % 86400000000 AS win_us,
      |    event_id, ts
      |  FROM events),
      |wm AS (SELECT (max(epoch_us(ts)) // 1000 - 600000) * 1000 AS w FROM events),
      |r AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY host, win_us ORDER BY ts, event_id) AS rn
      |  FROM e)
      |SELECT host, make_timestamp(win_us) AS win_start,
      |  COUNT(*) AS n_req,
      |  CAST(SUM(CASE WHEN rn <= $CrawlQuotaCap THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
      |  CAST(SUM(CASE WHEN rn <= $CrawlQuotaCap THEN event_id ELSE 0 END) AS BIGINT) AS admitted_id_sum,
      |  CAST(SUM(CASE WHEN rn > $CrawlQuotaCap THEN event_id ELSE 0 END) AS BIGINT) AS deferred_id_sum
      |FROM r, wm
      |GROUP BY host, win_us, wm.w
      |HAVING win_us + 86400000000 <= wm.w
      |ORDER BY host NULLS FIRST, win_start NULLS FIRST""".stripMargin

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sw18_crawl_quota" -> (crawlQuota _),
    "sw15_stream_scd2" -> (streamScd2 _),
    "sw16_stream_sample" -> (streamSample _),
    "sw17_stream_quantile" -> (streamQuantileMonitor _),
    "sw12_exactly_once_sink" -> (streamExactlyOnce _),
    "sw11_tws_hourly" -> (twsHourly _),
    "sw10_custom_sessions" -> (customSessions _),
    "sw9_stream_outer_join" -> (streamStreamOuter _),
    "sw8_stream_topk" -> (streamTopK _),
    "sw7_static_enrich" -> (streamStaticEnrich _),
    "sw5_stream_join" -> (streamStreamJoin _),
    "sw2_stream_hourly" -> (streamHourly _),
    "sw3_stream_sessions" -> (streamSessions _),
    "sw4_stream_dedup" -> (streamDedup _),
    "sw6_stream_distinct" -> (streamDistinctUsers _))

  def oracle: Map[String, String] = Map(
    "sw18_crawl_quota" -> crawlQuotaSql,
    "sw15_stream_scd2" -> streamScd2Sql,
    "sw16_stream_sample" -> streamSampleSql,
    "sw17_stream_quantile" -> streamQuantileSql,
    "sw12_exactly_once_sink" -> streamExactlyOnceSql,
    "sw11_tws_hourly" -> streamHourlySql, // sw2's contract, state-v2 API
    "sw10_custom_sessions" -> streamSessionsSql, // sw3's contract, custom state
    "sw9_stream_outer_join" -> streamStreamOuterSql,
    "sw8_stream_topk" -> streamTopKSql,
    "sw7_static_enrich" -> streamStaticEnrichSql,
    "sw5_stream_join" -> streamStreamJoinSql,
    "sw2_stream_hourly" -> streamHourlySql,
    "sw3_stream_sessions" -> streamSessionsSql,
    "sw4_stream_dedup" -> streamDedupSql,
    "sw6_stream_distinct" -> streamDistinctUsersSql)
}
