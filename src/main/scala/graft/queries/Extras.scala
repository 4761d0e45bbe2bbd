package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.Tables
import graft.plans.GraftRules
import graft.functions.VectorFunctions

/** Inventory rows from SURVEY.md §2 that round 1 left without a named gate
  * entry (VERDICT r01 "missing" #7, #10): the empty-input guard (F5), the
  * explicit column drop (P3), schema-conform via
  * `unionByName(allowMissingColumns)` (S5), and a first consumer of the
  * `events` table (time-bucketed aggregation + a regex scalar over its
  * JSON props column).
  */
object Extras extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  // ---------------------------------------------------------------- f5
  // §2.4 F5: empty-input guard (ref `if len(df_i) == 0: continue`,
  // yougile_etl_dag.py:213-214). Portions are accumulated by union; an
  // empty portion must be skipped (reference semantics) without changing
  // the result. The probe is `isEmpty` — a limit-1 job, not a full count.
  private def emptyGuard(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    val portions = Seq(
      o.filter(col("o_orderstatus") === "F"),
      o.filter(col("o_totalprice") < lit(0.0)), // provably empty portion
      o.filter(col("o_orderstatus") === "O"))
    val nonEmpty = portions.filterNot(_.isEmpty)
    nonEmpty.reduce(_ unionByName _)
      .orderBy(col("o_orderkey").asc_nulls_first, col("o_orderstatus").asc_nulls_first)
  }

  private val emptyGuardSql =
    """SELECT * FROM (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'F'
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_totalprice < 0.0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'O')
      |ORDER BY o_orderkey NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- p3
  // §2.3 P3: explicit drop (ref drop(columns=[...]), :159,231,234).
  private def dropColumns(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .drop("o_orderpriority", "o_orderdate")
      .orderBy(col("o_orderkey").asc_nulls_first)

  private val dropColumnsSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders ORDER BY o_orderkey NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- s5
  // §2.1 S5: schema conform — pages missing whole columns are aligned to
  // the canonical schema with nulls (ref :90-94). Spark gives the
  // add-missing-as-null + reorder behavior via unionByName with
  // allowMissingColumns, no per-column loop.
  private def schemaConform(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val pageA = c.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"), col("c_name"), lit("a").as("page"))
    val pageB = c.filter(col("c_custkey") % 2 =!= 0)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"), lit("b").as("page"))
    pageA.unionByName(pageB, allowMissingColumns = true)
      .orderBy(col("c_custkey").asc_nulls_first, col("page").asc_nulls_first)
  }

  private val schemaConformSql =
    """SELECT * FROM (
      |  SELECT c_custkey, c_name, 'a' AS page,
      |         CAST(NULL AS VARCHAR) AS c_mktsegment, CAST(NULL AS DOUBLE) AS c_acctbal
      |  FROM customer WHERE c_custkey % 2 = 0
      |  UNION ALL
      |  SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name, 'b' AS page, c_mktsegment, c_acctbal
      |  FROM customer WHERE c_custkey % 2 <> 0)
      |ORDER BY c_custkey NULLS FIRST, page NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- ev1
  // Beyond-reference: time-bucketed aggregation over the events stream
  // table (first consumer of Tables.events' nanos handling). Partial
  // (map-side) agg + one small shuffle on (hour, type) — the 100 TB plan.
  private def eventBuckets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("bucket_hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        // integer 1e-2 units then one double division: the decimal-sum
        // cast to double drifts an ulp from DuckDB once sums grow (q01
        // lesson); round(value*100) matches DECIMAL(18,2)'s rounding
        (sum(round(col("value") * 100).cast(LongType)).cast(DoubleType) / lit(100.0))
          .as("sum_value"))
      .orderBy(col("bucket_hour").asc_nulls_first, col("event_type").asc_nulls_first)

  private val eventBucketsSql =
    """SELECT date_trunc('hour', ts) AS bucket_hour, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY bucket_hour NULLS FIRST, event_type NULLS FIRST""".stripMargin

  // Beyond-reference: scalar extraction from the JSON props column with a
  // regex (portable to the oracle without a JSON extension), plus an agg
  // over the extracted value.
  private def eventProps(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("k", regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast(LongType))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(col("k")).as("sum_k"))
      .orderBy(col("event_type").asc_nulls_first)

  private val eventPropsSql =
    """SELECT event_type, COUNT(*) AS n_events,
      |  MIN(k) AS min_k, MAX(k) AS max_k, CAST(SUM(k) AS BIGINT) AS sum_k
      |FROM (SELECT event_type,
      |        CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
      |      FROM events)
      |GROUP BY event_type
      |ORDER BY event_type NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- f6
  // Beyond-reference predicate coverage: LIKE prefix (pushed to the scan
  // as StringStartsWith) + a word-boundary regex filter.
  private def likeFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("source").like("src1%") && col("text").rlike("\\bspark\\b"))
      .select("doc_id", "source", "n_chars")
      .orderBy(col("doc_id").asc_nulls_first)

  private val likeFilterSql =
    """SELECT doc_id, source, n_chars FROM documents
      |WHERE source LIKE 'src1%' AND regexp_matches(text, '\bspark\b')
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- ev3
  // Beyond-reference: gap-based sessionization over the events stream —
  // the canonical window-function pipeline (lag → flag → running sum →
  // per-session rollup). Shuffles once on user_id (the natural
  // sessionization partitioning); power-user skew is AQE territory.
  private def sessionize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000000 // 30-minute inactivity gap
    t(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull || (unix_micros(col("ts")) - col("prev_us")) > gapUs, 1)
          .otherwise(0))
      .withColumn("session_id", sum("new_sess").over(w))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("duration_us"))
      .orderBy(col("user_id").asc_nulls_first, col("session_id").asc_nulls_first)
  }

  private val sessionizeSql =
    """WITH g AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
      |      AS session_id
      |  FROM g)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(ts) AS session_start,
      |  epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
      |FROM s
      |GROUP BY user_id, session_id
      |ORDER BY user_id NULLS FIRST, session_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- j7
  // RIGHT OUTER join with a filtering conjunct in the join condition
  // (not the WHERE — pushed there it would kill the unmatched-right
  // rows the join type exists to keep). Bounded dims, so broadcast.
  private def rightJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation").join(t(s, dir, "region"),
        col("n_regionkey") === col("r_regionkey") && col("n_nationkey") % 7 === 0,
        "right")
      .select("r_regionkey", "r_name", "n_nationkey", "n_name")
      .orderBy(Seq("r_regionkey", "r_name", "n_nationkey", "n_name")
        .map(col(_).asc_nulls_first): _*)

  private val rightJoinSql =
    """SELECT r_regionkey, r_name, n_nationkey, n_name
      |FROM nation n RIGHT JOIN region r
      |  ON n.n_regionkey = r.r_regionkey AND n.n_nationkey % 7 = 0
      |ORDER BY r_regionkey NULLS FIRST, r_name NULLS FIRST,
      |  n_nationkey NULLS FIRST, n_name NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- j8
  // CROSS join of two BOUNDED dims (25 × 5 at every SF) — the one shape
  // where a cartesian product is legitimate; anything SF-scaling on
  // either side would be a plan bug, which is why the gate keeps it to
  // dimension tables only.
  private def crossSmall(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation").crossJoin(t(s, dir, "region"))
      .select("n_nationkey", "r_regionkey", "n_name", "r_name")
      .orderBy(col("n_nationkey").asc_nulls_first, col("r_regionkey").asc_nulls_first)

  private val crossSmallSql =
    """SELECT n_nationkey, r_regionkey, n_name, r_name
      |FROM nation CROSS JOIN region
      |ORDER BY n_nationkey NULLS FIRST, r_regionkey NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- un1
  // Unpivot (melt) — wide metric columns to (key, metric, value) rows,
  // the inverse of q04's pivot; Spark's Dataset.unpivot plans it as a
  // single Expand, the oracle states the equivalent UNION ALL.
  private def unpivotMetrics(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"),
        col("o_totalprice").as("totalprice"),
        col("o_custkey").cast(DoubleType).as("custkey"))
      .unpivot(Array(col("o_orderkey")), Array(col("totalprice"), col("custkey")),
        "metric", "val")
      .orderBy(col("o_orderkey").asc_nulls_first, col("metric").asc_nulls_first)

  private val unpivotMetricsSql =
    """SELECT o_orderkey, metric, val FROM (
      |  SELECT o_orderkey, 'totalprice' AS metric, o_totalprice AS val FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 'custkey', CAST(o_custkey AS DOUBLE) FROM orders)
      |WHERE o_orderkey % 100 = 0
      |ORDER BY o_orderkey NULLS FIRST, metric NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- c10
  // Integer math battery: abs, sign, mod, greatest/least, and the bit
  // ops (xor/and/shift/popcount). All integer in, integer out — no
  // float libm divergence possible (ln/exp/pow are NOT in the gate for
  // exactly that reason). Sign is cast on both sides (Spark signum
  // yields DOUBLE, DuckDB sign yields TINYINT).
  private def intMath(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").filter(col("l_orderkey") % 50 === 0)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_orderkey") - 3000).as("a"),
        signum(col("l_orderkey") - 3000).cast(LongType).as("sgn"),
        (col("l_orderkey") % 7).as("m7"),
        greatest(col("l_orderkey") % 7, col("l_linenumber").cast(LongType)).as("g"),
        least(col("l_orderkey") % 7, col("l_linenumber").cast(LongType)).as("l"),
        col("l_orderkey").bitwiseXOR(col("l_linenumber").cast(LongType)).as("x"),
        col("l_orderkey").bitwiseAND(lit(255L)).as("low8"),
        shiftright(col("l_orderkey"), 3).as("shr3"),
        bit_count(col("l_orderkey")).cast(LongType).as("bits"))
      .orderBy(col("l_orderkey").asc_nulls_first, col("l_linenumber").asc_nulls_first,
        col("a").asc_nulls_first)

  private val intMathSql =
    """SELECT l_orderkey, l_linenumber,
      |  abs(l_orderkey - 3000) AS a,
      |  CAST(sign(l_orderkey - 3000) AS BIGINT) AS sgn,
      |  l_orderkey % 7 AS m7,
      |  greatest(l_orderkey % 7, CAST(l_linenumber AS BIGINT)) AS g,
      |  least(l_orderkey % 7, CAST(l_linenumber AS BIGINT)) AS l,
      |  xor(l_orderkey, CAST(l_linenumber AS BIGINT)) AS x,
      |  l_orderkey & 255 AS low8,
      |  l_orderkey >> 3 AS shr3,
      |  CAST(bit_count(l_orderkey) AS BIGINT) AS bits
      |FROM lineitem WHERE l_orderkey % 50 = 0
      |ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST, a NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- sw1
  // The NATIVE batch session_window against ev3's manual spelling: same
  // 30-minute gap, grouped by (user_id, session_window(ts)). Spark's
  // operator merges overlapping [ts, ts+gap) intervals, which is exactly
  // the lag/flag/running-sum construction — the oracle states that
  // construction, so a hash match proves the built-in's session
  // boundaries equal the portable definition (and StreamingSpec already
  // proves streaming session_window equals batch). session_end is
  // last-event + gap, Spark's window.end convention.
  private def sessionWindowNative(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
      .orderBy(col("user_id").asc_nulls_first, col("session_start").asc_nulls_first)

  private val sessionWindowNativeSql =
    """WITH g AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS sid
      |  FROM g)
      |SELECT user_id, MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS session_end, COUNT(*) AS n_events
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id NULLS FIRST, session_start NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- aj1
  // As-of join (graft.operators.AsOfJoin): each event gets the latest
  // order of "its" customer (user_id ↔ o_custkey) with o_orderdate <=
  // event ts, ties broken by the largest o_orderkey. Implemented with
  // the union+window technique (one shuffle, no pair explosion); the
  // oracle states the same semantics as a correlated argmax.
  private def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select("event_id", "user_id", "ts")
    val ord = t(s, dir, "orders")
    graft.operators.AsOfJoin.leftAsOf(
      ev, ord,
      leftKey = "user_id", rightKey = "o_custkey",
      leftTs = "ts", rightTs = "o_orderdate",
      tieBreak = "o_orderkey",
      payload = Seq("o_orderkey", "o_totalprice"))
      .orderBy(col("event_id").asc_nulls_first)
  }

  private val asofJoinSql =
    """WITH picked AS (
      |  SELECT e.event_id, e.user_id, e.ts,
      |    (SELECT o.o_orderkey FROM orders o
      |     WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      |     ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) AS asof_o_orderkey
      |  FROM events e)
      |SELECT p.event_id, p.user_id, p.ts, p.asof_o_orderkey,
      |       o.o_totalprice AS asof_o_totalprice
      |FROM picked p
      |LEFT JOIN orders o ON p.asof_o_orderkey = o.o_orderkey
      |ORDER BY event_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- aj4
  // The SAME as-of query as aj1, executed by the custom PHYSICAL
  // operator (plans/AsOfMergeJoin: logical node → injected strategy →
  // co-partitioned sorted-merge exec with O(1) per-partition state).
  // Shares aj1's oracle SQL verbatim, so the gate hash-proves the
  // custom exec against both DuckDB and (transitively) the union+window
  // spelling. PhysicalAsOfSpec pins the plan actually contains
  // AsOfMergeJoinExec — without that pin this entry could silently
  // regress to any other join.
  private def asofExecJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select("event_id", "user_id", "ts")
    val ord = t(s, dir, "orders")
    graft.plans.AsOfMerge.leftAsOf(
      ev, ord,
      leftKey = "user_id", rightKey = "o_custkey",
      leftTs = "ts", rightTs = "o_orderdate",
      tieBreak = "o_orderkey",
      payload = Seq("o_orderkey", "o_totalprice"))
      .orderBy(col("event_id").asc_nulls_first)
  }

  // ---------------------------------------------------------------- aj3
  /** Nearest-in-time as-of join — the sensor-alignment direction the
    * backward/forward pair composes into: each click event gets its
    * user's purchase event with MINIMAL |Δts|, ties preferring the
    * backward match (and within a direction, aj1/aj2's own key
    * tie-breaks: largest id backward, smallest forward). Built from the
    * two existing single-direction scans joined on the unique left key
    * with a per-row argmin projection — the global argmin IS
    * min(nearest-backward, nearest-forward), so the composition is
    * exact, and each direction keeps its one-shuffle no-pair-explosion
    * plan. The oracle states the semantics directly as a correlated
    * argmin ordered by (|Δt|, is-forward, direction-signed id) — the
    * gate hash-proves the composition against the specification.
    * `near_dir`/`near_dt_us` expose which side won and by how much (the
    * drift audit a sensor-fusion pipeline reads). Click/purchase are two
    * interleaved streams of the SAME month, so both directions win on
    * real fixture rows (events-vs-orders would be one-sided: every
    * order predates every 2024 event).
    */
  private def asofNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val payload = Seq("event_id", "ts", "value")
    def side(df: DataFrame, p: String) = df.select(
      col("event_id") +: col("user_id") +: col("ts") +:
        payload.map(c => col(s"asof_$c").as(s"$p$c")): _*)
    val back = side(graft.operators.AsOfJoin.leftAsOf(
      clicks, purchases, leftKey = "user_id", rightKey = "user_id",
      leftTs = "ts", rightTs = "ts",
      tieBreak = "event_id", payload = payload), "b_")
    val fwd = side(graft.operators.AsOfJoin.leftAsOfForward(
      clicks, purchases, leftKey = "user_id", rightKey = "user_id",
      leftTs = "ts", rightTs = "ts",
      tieBreak = "event_id", payload = payload), "f_")
      .drop("user_id", "ts")
    val bDt = unix_micros(col("ts")) - unix_micros(col("b_ts"))
    val fDt = unix_micros(col("f_ts")) - unix_micros(col("ts"))
    // backward wins when forward is absent, or both exist and it is at
    // least as close (ties prefer backward — matches the oracle's
    // is-forward sort key)
    val pickBack = col("f_event_id").isNull ||
      (col("b_event_id").isNotNull && bDt <= fDt)
    back.join(fwd, Seq("event_id"))
      .select(col("event_id"), col("user_id"), col("ts"),
        when(pickBack, col("b_event_id")).otherwise(col("f_event_id"))
          .as("near_event_id"),
        when(pickBack, col("b_value")).otherwise(col("f_value"))
          .as("near_value"),
        when(col("b_event_id").isNull && col("f_event_id").isNull,
          lit(null).cast("string"))
          .when(pickBack, lit("b")).otherwise(lit("f")).as("near_dir"),
        when(pickBack, bDt).otherwise(fDt).as("near_dt_us"))
      .orderBy(col("event_id").asc_nulls_first)
  }

  private val asofNearestSql =
    """WITH picked AS (
      |  SELECT e.event_id, e.user_id, e.ts,
      |    (SELECT p.event_id FROM events p
      |     WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
      |       AND e.ts IS NOT NULL AND p.ts IS NOT NULL
      |     ORDER BY abs(epoch_us(p.ts) - epoch_us(e.ts)) ASC,
      |       (p.ts > e.ts) ASC,
      |       CASE WHEN p.ts <= e.ts THEN -p.event_id
      |            ELSE p.event_id END ASC
      |     LIMIT 1) AS nk
      |  FROM events e WHERE e.event_type = 'click')
      |SELECT k.event_id, k.user_id, k.ts,
      |  k.nk AS near_event_id,
      |  p.value AS near_value,
      |  CASE WHEN k.nk IS NULL THEN NULL
      |       WHEN p.ts <= k.ts THEN 'b' ELSE 'f' END AS near_dir,
      |  abs(epoch_us(p.ts) - epoch_us(k.ts)) AS near_dt_us
      |FROM picked k LEFT JOIN events p ON k.nk = p.event_id
      |ORDER BY k.event_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- aj5
  /** Time-INTERPOLATION join — the sensor-fusion step past aj3's
    * nearest-pick: each click gets its user's purchase value LINEARLY
    * INTERPOLATED between the bracketing purchases (backward per aj1's
    * contract: latest ts ≤ t, largest id; forward per aj2's: earliest
    * ts ≥ t, smallest id), in integer cents with the floored-division
    * pmod spelling (Δv is signed). A purchase exactly at the click ts
    * brackets from BOTH sides; degenerate dt = 0 resolves to the
    * backward value (aj3's backward-wins tie rule). Either side
    * missing → NULL (interpolation needs both brackets; extrapolation
    * is a different, lying, operator). Magnitude: |Δcents|·Δt_µs stays
    * ≈ 2·10¹⁸ < 2⁶³ at fixture spans — stated, not assumed.
    *
    * Scale posture: both directions keep AsOfJoin's one-shuffle
    * union+window plan, composed by an equi-join on the unique click
    * id — no pair explosion anywhere, same shape as aj3.
    */
  private def asofInterp(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val payload = Seq("event_id", "ts", "value")
    def side(df: DataFrame, p: String) = df.select(
      col("event_id") +: col("user_id") +: col("ts") +:
        payload.map(c => col(s"asof_$c").as(s"$p$c")): _*)
    val back = side(graft.operators.AsOfJoin.leftAsOf(
      clicks, purchases, leftKey = "user_id", rightKey = "user_id",
      leftTs = "ts", rightTs = "ts",
      tieBreak = "event_id", payload = payload), "b_")
    val fwd = side(graft.operators.AsOfJoin.leftAsOfForward(
      clicks, purchases, leftKey = "user_id", rightKey = "user_id",
      leftTs = "ts", rightTs = "ts",
      tieBreak = "event_id", payload = payload), "f_")
      .drop("user_id", "ts")
    back.join(fwd, Seq("event_id"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("b_event_id").as("prev_event_id"),
        col("f_event_id").as("next_event_id"),
        unix_micros(col("ts")).as("t"),
        unix_micros(col("b_ts")).as("t0"),
        unix_micros(col("f_ts")).as("t1"),
        round(col("b_value") * 100).cast(LongType).as("v0"),
        round(col("f_value") * 100).cast(LongType).as("v1"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("prev_event_id"), col("next_event_id"),
        expr("""CAST(CASE
          WHEN prev_event_id IS NULL OR next_event_id IS NULL THEN NULL
          WHEN t1 - t0 = 0 THEN v0
          ELSE v0 + ((v1 - v0) * (t - t0)
                     - pmod((v1 - v0) * (t - t0), t1 - t0)) DIV (t1 - t0)
          END AS BIGINT)""").as("interp_cents"))
      .orderBy(col("event_id").asc_nulls_first)
  }

  private val asofInterpSql =
    """WITH b AS (
      |  SELECT e.event_id, e.user_id, e.ts,
      |    (SELECT p.event_id FROM events p
      |     WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
      |       AND p.ts <= e.ts
      |     ORDER BY p.ts DESC, p.event_id DESC LIMIT 1) AS pk
      |  FROM events e WHERE e.event_type = 'click'),
      |f AS (
      |  SELECT e.event_id,
      |    (SELECT p.event_id FROM events p
      |     WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
      |       AND p.ts >= e.ts
      |     ORDER BY p.ts ASC, p.event_id ASC LIMIT 1) AS nk
      |  FROM events e WHERE e.event_type = 'click'),
      |j AS (
      |  SELECT b.event_id, b.user_id, b.ts, b.pk AS prev_event_id,
      |    f.nk AS next_event_id,
      |    epoch_us(b.ts) AS t, epoch_us(pb.ts) AS t0, epoch_us(pf.ts) AS t1,
      |    CAST(round(pb.value * 100) AS BIGINT) AS v0,
      |    CAST(round(pf.value * 100) AS BIGINT) AS v1
      |  FROM b JOIN f ON b.event_id = f.event_id
      |  LEFT JOIN events pb ON b.pk = pb.event_id
      |  LEFT JOIN events pf ON f.nk = pf.event_id)
      |SELECT event_id, user_id, ts, prev_event_id, next_event_id,
      |  CAST(CASE
      |    WHEN prev_event_id IS NULL OR next_event_id IS NULL THEN NULL
      |    WHEN t1 - t0 = 0 THEN v0
      |    ELSE v0 + ((v1 - v0) * (t - t0)
      |               - (((((v1 - v0) * (t - t0)) % (t1 - t0)) + (t1 - t0)) % (t1 - t0)))
      |             // (t1 - t0)
      |    END AS BIGINT) AS interp_cents
      |FROM j ORDER BY event_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- aj2
  // Forward as-of join (graft.operators.AsOfJoin.leftAsOfForward): each
  // event gets the EARLIEST order of its customer with o_orderdate >=
  // event ts, ties broken by the smallest o_orderkey — the "next
  // scheduled delivery" direction. Same union+window plan as aj1,
  // scanned descending.
  private def asofForward(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select("event_id", "user_id", "ts")
    val ord = t(s, dir, "orders")
    graft.operators.AsOfJoin.leftAsOfForward(
      ev, ord,
      leftKey = "user_id", rightKey = "o_custkey",
      leftTs = "ts", rightTs = "o_orderdate",
      tieBreak = "o_orderkey",
      payload = Seq("o_orderkey", "o_totalprice"))
      .orderBy(col("event_id").asc_nulls_first)
  }

  private val asofForwardSql =
    """WITH picked AS (
      |  SELECT e.event_id, e.user_id, e.ts,
      |    (SELECT o.o_orderkey FROM orders o
      |     WHERE o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
      |     ORDER BY o.o_orderdate ASC, o.o_orderkey ASC LIMIT 1) AS asof_o_orderkey
      |  FROM events e)
      |SELECT p.event_id, p.user_id, p.ts, p.asof_o_orderkey,
      |       o.o_totalprice AS asof_o_totalprice
      |FROM picked p
      |LEFT JOIN orders o ON p.asof_o_orderkey = o.o_orderkey
      |ORDER BY event_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- rj1
  // Range join (graft.operators.RangeJoin): every event landing inside
  // the 30-minute window after a same-user click — an equi-join on
  // (key, time-bin) with interval replication, never a nested-loop.
  // The oracle states the same containment directly.
  private def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select("event_id", "user_id", "ts", "event_type")
    val windows = ev.filter(col("event_type") === "click").select(
      col("user_id").as("w_user"),
      col("event_id").as("click_id"),
      col("ts").as("win_start"),
      (col("ts") + expr("INTERVAL 30 MINUTES")).as("win_end"))
    graft.operators.RangeJoin.pointInInterval(
      ev, windows,
      pointKey = "user_id", intervalKey = "w_user",
      pointTs = "ts", start = "win_start", end = "win_end",
      binUs = 30L * 60 * 1000000) // bin = the window span: ≤2 replicas each
      .filter(col("event_id") =!= col("click_id")) // a click is not its own follower
      .select("event_id", "user_id", "ts", "click_id", "win_start")
      .orderBy(Seq("event_id", "user_id", "ts", "click_id", "win_start")
        .map(col(_).asc_nulls_first): _*)
  }

  private val rangeJoinSql =
    """SELECT e.event_id, e.user_id, e.ts, w.click_id, w.win_start
      |FROM events e JOIN (
      |  SELECT user_id AS w_user, event_id AS click_id, ts AS win_start,
      |    ts + INTERVAL 30 MINUTE AS win_end
      |  FROM events WHERE event_type = 'click') w
      |  ON w.w_user = e.user_id
      | AND e.ts >= w.win_start AND e.ts < w.win_end
      | AND e.event_id <> w.click_id
      |ORDER BY event_id NULLS FIRST, user_id NULLS FIRST, ts NULLS FIRST,
      |  click_id NULLS FIRST, win_start NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- rj2
  /** Interval-OVERLAP join (rj1's two-sided sibling): each event is an
    * interval [ts, ts + value-seconds) (ev9's duration convention);
    * even-id intervals joined to odd-id intervals of the same user that
    * OVERLAP, plus the exact overlap width in integer micros. The
    * operator bins both sides and emits each pair in exactly one bin
    * (the overlap-start bin) — no post-join distinct; the oracle states
    * the plain overlap predicate join. Bin = 512 s ≳ the max duration
    * (490 s), so each interval replicates to ≤ 2 bins.
    */
  private def intervalOverlapJoin(s: SparkSession, dir: String): DataFrame = {
    val iv = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        greatest(lit(1L), round(col("value")).cast(LongType)).as("dur"))
      .select(col("event_id"), col("user_id"),
        col("ts").as("s"),
        timestamp_micros(unix_micros(col("ts")) + col("dur") * 1000000L).as("e"))
    val a = iv.filter(col("event_id") % 2 === 0)
      .select(col("event_id").as("a_id"), col("user_id").as("a_user"),
        col("s").as("a_s"), col("e").as("a_e"))
    val b = iv.filter(col("event_id") % 2 === 1)
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("s").as("b_s"), col("e").as("b_e"))
    graft.operators.RangeJoin.intervalOverlap(
      a, b, leftKey = "a_user", rightKey = "b_user",
      lStart = "a_s", lEnd = "a_e", rStart = "b_s", rEnd = "b_e",
      binUs = 512L * 1000000)
      .select(col("a_id"), col("b_id"),
        (least(unix_micros(col("a_e")), unix_micros(col("b_e"))) -
          greatest(unix_micros(col("a_s")), unix_micros(col("b_s")))).as("overlap_us"))
      .orderBy(col("a_id").asc_nulls_first, col("b_id").asc_nulls_first,
        col("overlap_us").asc_nulls_first)
  }

  private val intervalOverlapJoinSql =
    """WITH iv AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS s,
      |    epoch_us(ts) + CAST(GREATEST(1, round(value)) AS BIGINT) * 1000000 AS e
      |  FROM events)
      |SELECT a.event_id AS a_id, b.event_id AS b_id,
      |  LEAST(a.e, b.e) - GREATEST(a.s, b.s) AS overlap_us
      |FROM iv a JOIN iv b ON a.user_id = b.user_id
      | AND a.event_id % 2 = 0 AND b.event_id % 2 = 1
      | AND a.s < b.e AND b.s < a.e
      |ORDER BY a_id NULLS FIRST, b_id NULLS FIRST, overlap_us NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- opt2
  /** rj1's problem spelled the way users actually write it — the naive
    * KEYLESS containment join (no equi predicate at all, which Spark
    * can only nested-loop) — relying on the
    * [[graft.plans.RangeBinJoinRewrite]] optimizer rule to plan it as
    * the binned equi-join `RangeJoin.pointInInterval` hand-writes. The
    * oracle executes the same naive SQL literally in DuckDB, so the
    * gate hash-proves the REWRITE end-to-end (bin coverage, exactly-
    * once pairing, strict upper bound, null drops); RangeBinRewriteSpec
    * pins the plan shape. Intervals are 2-hour windows opened at every
    * 97th event; bin = the window span, so each interval replicates to
    * ≤ 2 bins.
    */
  // ---------------------------------------------------------------- opt3
  /** Large literal IN-list REWRITTEN by the engine
    * (plans.InListToJoinRewrite): the query is spelled the way users
    * spell it — `.isin(<400 ids>)` — and the optimizer turns the
    * filter into a broadcast LEFT SEMI join against a values relation,
    * so the list ships once instead of riding inside every task's
    * serialized plan. The oracle executes the literal IN-list SQL, so
    * the gate hash-proves the rewrite preserves semantics;
    * OptimizerInRuleSpec pins the plan shape and the guards.
    */
  private val InListKeys: Seq[Long] = 1L to 2000L by 5L

  private def inlistSemiJoin(s: SparkSession, dir: String): DataFrame = {
    GraftRules.install(s, graft.plans.InListToJoinRewrite(256))
    t(s, dir, "lineitem")
      .filter(col("l_partkey").isin(InListKeys: _*))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("rev_c"))
      .orderBy(col("l_returnflag").asc_nulls_first)
  }

  private val inlistSemiJoinSql =
    s"""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
       |FROM lineitem
       |WHERE l_partkey IN (${InListKeys.mkString(", ")})
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- opt4
  /** `COUNT(DISTINCT user_id)` REWRITTEN by the engine
    * ([[graft.plans.ApproxDistinctRewrite]]): the query is spelled the
    * way users spell it — `countDistinct` — and the opt-in optimizer
    * rule substitutes the KMV sketch aggregate
    * ([[graft.functions.KmvNdv]]), turning the per-(group, value)
    * exchange into map-side-combining bounded buffers (≤ 2k longs per
    * group × partition). The sketch is EXACT below k = 8192 distinct
    * values per group — event types carry ~150 distinct users at
    * sf0.01 — so the oracle runs the literal exact COUNT(DISTINCT) and
    * the gate hash-proves the rewrite end-to-end; past k the same plan
    * degrades to a 1.1%-sigma estimate instead of an exchange
    * explosion (ApproxDistinctRewriteSpec pins that regime plus the
    * plan shape).
    */
  private def approxDistinctAuto(s: SparkSession, dir: String): DataFrame = {
    GraftRules.install(s, graft.plans.ApproxDistinctRewrite())
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  private val approxDistinctAutoSql =
    """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM events GROUP BY event_type
      |ORDER BY event_type NULLS FIRST""".stripMargin

  private def rangeBinAuto(s: SparkSession, dir: String): DataFrame = {
    GraftRules.install(s, graft.plans.RangeBinJoinRewrite(2L * 3600 * 1000000))
    val ev = t(s, dir, "events").select("event_id", "user_id", "ts")
    val win = t(s, dir, "events")
      .filter(col("event_id") % 97 === 0)
      .select(col("event_id").as("win_id"), col("ts").as("w_s"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("w_e"))
    ev.join(win, col("ts") >= col("w_s") && col("ts") < col("w_e"))
      .select("event_id", "user_id", "win_id")
      .orderBy(col("event_id").asc_nulls_first, col("user_id").asc_nulls_first,
        col("win_id").asc_nulls_first)
  }

  private val rangeBinAutoSql =
    """SELECT e.event_id, e.user_id, w.win_id
      |FROM events e JOIN (
      |  SELECT event_id AS win_id, ts AS w_s, ts + INTERVAL 2 HOUR AS w_e
      |  FROM events WHERE event_id % 97 = 0) w
      |  ON e.ts >= w.w_s AND e.ts < w.w_e
      |ORDER BY event_id NULLS FIRST, user_id NULLS FIRST, win_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- j5
  // Beyond-reference join coverage: semi (customers WITH orders) and
  // anti (customers WITHOUT) — the allow-list idiom at fact scale, where
  // an IN-list no longer fits and the filter must be a join.
  private def semiAnti(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
    val withOrders = c.join(o, Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), lit("has_orders").as("bucket"))
    val without = c.join(o, Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"), lit("no_orders").as("bucket"))
    withOrders.unionByName(without)
      .orderBy(col("bucket").asc_nulls_first, col("c_custkey").asc_nulls_first)
  }

  private val semiAntiSql =
    """SELECT * FROM (
      |  SELECT c_custkey, 'has_orders' AS bucket FROM customer c
      |  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |  UNION ALL
      |  SELECT c_custkey, 'no_orders' AS bucket FROM customer c
      |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
      |ORDER BY bucket NULLS FIRST, c_custkey NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q02
  // Beyond-reference agg coverage: ROLLUP hierarchy (flag → status →
  // grand total) — partial agg + one exchange, same 2-stage shape as q01.
  private def rollupAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        // integer 1e-2 units, one division back — decimal-to-double
        // conversion drifts an ulp cross-engine once sums grow (q01)
        (sum(round(col("l_quantity") * 100).cast(LongType)).cast(DoubleType) / lit(100.0))
          .as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private val rollupAggSql =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- ev4
  // Beyond-reference: time-series gap-fill (resample to a dense hourly
  // grid, zero-filling silent hours) — the step between sessionization
  // and any rate/anomaly model. The grid is generated per group from its
  // own [min, max] hour via sequence() — no driver loop, no cross joins;
  // the per-type counts frame is tiny after aggregation, so the
  // grid-side join is broadcast territory at any corpus scale.
  private def gapfill(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket_hour"))
      .agg(count(lit(1)).as("n"))
      // two consumers (bounds + the fill join) of one aggregated pass
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bounds = counts.groupBy("event_type")
      .agg(min("bucket_hour").as("h0"), max("bucket_hour").as("h1"))
    val grid = bounds.select(col("event_type"),
      explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("bucket_hour"))
    grid.join(counts, Seq("event_type", "bucket_hour"), "left")
      .select(col("event_type"), col("bucket_hour"),
        coalesce(col("n"), lit(0L)).as("n_events"))
      .orderBy(col("event_type").asc_nulls_first, col("bucket_hour").asc_nulls_first)
  }

  private val gapfillSql =
    """WITH counts AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |bounds AS (SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM counts GROUP BY 1),
      |grid AS (
      |  SELECT event_type, unnest(gs) AS h
      |  FROM (SELECT event_type, generate_series(h0, h1, INTERVAL 1 HOUR) AS gs FROM bounds))
      |SELECT g.event_type, g.h AS bucket_hour, COALESCE(c.n, 0) AS n_events
      |FROM grid g LEFT JOIN counts c ON g.event_type = c.event_type AND g.h = c.h
      |ORDER BY g.event_type NULLS FIRST, bucket_hour NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- j6
  // Beyond-reference join coverage: FULL OUTER — both unmatched sides
  // survive with nulls. The USING-style key list makes Spark coalesce
  // the join key exactly like the oracle's COALESCE(l.k, r.k); sides are
  // filtered to distinct modulo classes so left-only, right-only and
  // matched rows all occur non-vacuously.
  private def fullOuter(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "customer").filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").as("k"), col("c_name"))
    val r = t(s, dir, "orders").filter(col("o_custkey") % 2 === 0)
      .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("n_orders"))
    l.join(r, Seq("k"), "full_outer")
      .select(col("k").as("custkey"), col("c_name"), col("n_orders"))
      .orderBy(col("custkey").asc_nulls_first, col("c_name").asc_nulls_first)
  }

  private val fullOuterSql =
    """WITH l AS (SELECT c_custkey AS k, c_name FROM customer WHERE c_custkey % 3 = 0),
      |r AS (SELECT o_custkey AS k, COUNT(*) AS n_orders
      |      FROM orders WHERE o_custkey % 2 = 0 GROUP BY 1)
      |SELECT COALESCE(l.k, r.k) AS custkey, l.c_name, r.n_orders
      |FROM l FULL OUTER JOIN r ON l.k = r.k
      |ORDER BY custkey NULLS FIRST, c_name NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- e3
  // Beyond-reference generator coverage: posexplode — explode WITH the
  // element's position (SURVEY §2.6 listed it absent in the reference).
  // The oracle zips unnest with generate_subscripts in one SELECT.
  private def posExplodeWords(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"), col("word"))
      .orderBy(col("doc_id").asc_nulls_first, col("pos").asc_nulls_first)

  private val posExplodeWordsSql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
      |           FROM documents WHERE doc_id % 50 = 0)
      |SELECT doc_id, CAST(generate_subscripts(w, 1) - 1 AS BIGINT) AS pos, unnest(w) AS word
      |FROM w ORDER BY doc_id NULLS FIRST, pos NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- ev5
  // Beyond-reference scalar coverage: JSON functions (SURVEY §2.9 lists
  // them absent in the reference) — path extraction from the props
  // column with get_json_object, string and numeric forms plus a
  // derived predicate. DuckDB's bundled json extension states the same
  // paths. ev2 extracts the same field by regex; both must agree.
  private def jsonExtract(s: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k")
    t(s, dir, "events").filter(col("event_id") % 10 === 0)
      .select(
        col("event_id"),
        k.as("k_str"),
        k.cast(LongType).as("k"),
        (k.cast(LongType) % 2 === 0).as("k_even"))
      .orderBy(col("event_id").asc_nulls_first)
  }

  // TRY_CAST, not CAST: Spark's non-ANSI cast of a non-numeric $.k yields
  // NULL; DuckDB's CAST would RAISE — the oracle must mirror the
  // null-on-failure semantics, not depend on fixture props.k always
  // being numeric (ADVICE r05).
  private val jsonExtractSql =
    """SELECT event_id,
      |  json_extract_string(props, '$.k') AS k_str,
      |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 0 AS k_even
      |FROM events WHERE event_id % 10 = 0
      |ORDER BY event_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- ev13
  // Schema-projected JSON parse — the production spelling ev5's
  // repeated get_json_object paths approximate: ONE from_json with an
  // explicit StructType parses the document once and yields every field
  // typed (N path extractions re-parse the document N times). Also pins
  // the absent-field contract: a schema field the document lacks is
  // NULL, not an error, in both engines (the schema-on-read posture all
  // ingest normalization relies on).
  private def fromJsonTyped(s: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", LongType),
      org.apache.spark.sql.types.StructField("label", StringType)))
    t(s, dir, "events").filter(col("event_id") % 10 === 0)
      .withColumn("p", from_json(col("props"), schema))
      .select(
        col("event_id"),
        col("p.k").as("k"),
        col("p.k").isNotNull.as("has_k"),
        col("p.label").as("label")) // absent in every document → null
      .orderBy(col("event_id").asc_nulls_first)
  }

  private val fromJsonTypedSql =
    """SELECT event_id,
      |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL AS has_k,
      |  json_extract_string(props, '$.label') AS label
      |FROM events WHERE event_id % 10 = 0
      |ORDER BY event_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- u3
  // §2.7 completion: UNION DISTINCT (u1 is union-all, u2 is
  // INTERSECT/EXCEPT) — Spark plans union().distinct() as one
  // hash-aggregate over the concatenation, same as SQL UNION.
  private def unionDistinct(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    c.filter(col("c_custkey") % 2 === 0).select("c_nationkey")
      .union(c.filter(col("c_acctbal") > 0).select("c_nationkey"))
      .distinct()
      .orderBy(col("c_nationkey").asc_nulls_first)
  }

  private val unionDistinctSql =
    """SELECT c_nationkey FROM customer WHERE c_custkey % 2 = 0
      |UNION
      |SELECT c_nationkey FROM customer WHERE c_acctbal > 0
      |ORDER BY c_nationkey NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- ev6
  /** Ordered funnel: per user, the earliest view → click (within 6 h of
    * the first view) → purchase (within 12 h of that click), with the
    * furthest stage reached. The strictly-ordered "min after previous
    * step, within window" chain is what a window-function funnel gets
    * wrong (a flat min(click) can precede the first view).
    *
    * Plan: three filtered aggregates on user_id + two left joins — all
    * on the same key, so after the first shuffle the joins co-partition
    * (one exchange at scale, not five). The per-stage frames shrink
    * monotonically (131→19→5 users at sf0.01).
    */
  private def funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    def stageMin(typ: String) = ev.filter(col("event_type") === typ)
    val v = stageMin("view").groupBy("user_id").agg(min(col("ts")).as("t1"))
    val c = stageMin("click").join(v, Seq("user_id"))
      .filter(col("ts") > col("t1") &&
        col("ts") <= col("t1") + expr("INTERVAL 6 HOURS"))
      .groupBy("user_id").agg(min(col("ts")).as("t2"))
    val p = stageMin("purchase").join(c, Seq("user_id"))
      .filter(col("ts") > col("t2") &&
        col("ts") <= col("t2") + expr("INTERVAL 12 HOURS"))
      .groupBy("user_id").agg(min(col("ts")).as("t3"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("t1"), col("t2"), col("t3"),
        when(col("t3").isNotNull, lit(3L))
          .when(col("t2").isNotNull, lit(2L))
          .otherwise(lit(1L)).as("stage"))
      .orderBy(col("user_id").asc_nulls_first)
  }

  /** The oracle truncates ts to MICROSECONDS up front (make_timestamp of
    * epoch_us): events.parquet stores TIMESTAMP(NANOS) and DuckDB reads
    * it at full precision, while Tables.events floors to micros — the
    * window predicates (`>`, `<= t1 + 6h`) must compare the same values
    * or a boundary event inside the truncated microsecond diverges.
    */
  private val funnelSql =
    """WITH ev AS (SELECT * REPLACE (make_timestamp(epoch_us(ts)) AS ts)
      |            FROM events),
      |v AS (SELECT user_id, min(ts) AS t1 FROM ev
      |           WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e
      |      JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts > v.t1
      |        AND e.ts <= v.t1 + INTERVAL 6 HOUR GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev e
      |      JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      |        AND e.ts <= c.t2 + INTERVAL 12 HOUR GROUP BY e.user_id)
      |SELECT v.user_id, v.t1, c.t2, p.t3,
      |  CAST(CASE WHEN p.t3 IS NOT NULL THEN 3
      |            WHEN c.t2 IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS stage
      |FROM v LEFT JOIN c ON v.user_id = c.user_id
      |       LEFT JOIN p ON c.user_id = p.user_id
      |ORDER BY v.user_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- dq1
  /** Single-pass column profile (the data-quality census every ingest
    * runs): row count, non-null count, distinct count, min/max per
    * audited column, emitted long-format (one row per column) so the
    * profile is schema-stable as audited columns are added. ONE
    * aggregate over the table computes every measure (Spark plans the
    * multi-distinct via one expand), then three projections of the
    * single-row frame union — the table is scanned once, the union
    * costs nothing. min/max are surfaced as strings so numeric and
    * text columns share the schema.
    */
  private def columnProfile(s: SparkSession, dir: String): DataFrame = {
    val stats = Tables(s, dir, "orders").agg(
      count(lit(1)).as("n_rows"),
      count(col("o_custkey")).as("nn_cust"),
      countDistinct(col("o_custkey")).as("nd_cust"),
      min(col("o_custkey")).cast(StringType).as("min_cust"),
      max(col("o_custkey")).cast(StringType).as("max_cust"),
      count(col("o_orderstatus")).as("nn_status"),
      countDistinct(col("o_orderstatus")).as("nd_status"),
      min(col("o_orderstatus")).cast(StringType).as("min_status"),
      max(col("o_orderstatus")).cast(StringType).as("max_status"),
      count(col("o_orderpriority")).as("nn_prio"),
      countDistinct(col("o_orderpriority")).as("nd_prio"),
      min(col("o_orderpriority")).cast(StringType).as("min_prio"),
      max(col("o_orderpriority")).cast(StringType).as("max_prio"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def row(name: String, suffix: String) = stats.select(
      lit(name).as("col_name"), col("n_rows"),
      col(s"nn_$suffix").as("n_notnull"),
      col(s"nd_$suffix").as("n_distinct"),
      col(s"min_$suffix").as("min_s"),
      col(s"max_$suffix").as("max_s"))
    row("o_custkey", "cust")
      .unionAll(row("o_orderstatus", "status"))
      .unionAll(row("o_orderpriority", "prio"))
      .orderBy(col("col_name").asc_nulls_first)
  }

  private val columnProfileSql =
    """WITH s AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(COUNT(o_custkey) AS BIGINT) AS nn_cust,
      |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd_cust,
      |    CAST(min(o_custkey) AS VARCHAR) AS min_cust,
      |    CAST(max(o_custkey) AS VARCHAR) AS max_cust,
      |    CAST(COUNT(o_orderstatus) AS BIGINT) AS nn_status,
      |    CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd_status,
      |    CAST(min(o_orderstatus) AS VARCHAR) AS min_status,
      |    CAST(max(o_orderstatus) AS VARCHAR) AS max_status,
      |    CAST(COUNT(o_orderpriority) AS BIGINT) AS nn_prio,
      |    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd_prio,
      |    CAST(min(o_orderpriority) AS VARCHAR) AS min_prio,
      |    CAST(max(o_orderpriority) AS VARCHAR) AS max_prio
      |  FROM orders)
      |SELECT 'o_custkey' AS col_name, n_rows, nn_cust AS n_notnull,
      |  nd_cust AS n_distinct, min_cust AS min_s, max_cust AS max_s FROM s
      |UNION ALL
      |SELECT 'o_orderstatus', n_rows, nn_status, nd_status, min_status, max_status FROM s
      |UNION ALL
      |SELECT 'o_orderpriority', n_rows, nn_prio, nd_prio, min_prio, max_prio FROM s
      |ORDER BY col_name NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- ev7
  /** Weekly cohort retention — the standard activity matrix: users
    * cohorted by the ISO week of their first event, each later active
    * week counted at its offset. Two aggregates over events (first-week
    * per user, distinct active (user, week)) joined on user_id — after
    * the first shuffle everything co-partitions on the same key, and the
    * output is cohorts × offsets, bounded by the calendar, not the
    * event volume. Both engines truncate weeks to Monday and the offset
    * division is exact (Monday-to-Monday is always a multiple of 7
    * days), so the matrix is integer-deterministic.
    */
  private def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events").select(col("user_id"), col("ts"))
    val firstWeek = ev.groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    val active = ev.select(col("user_id"), date_trunc("week", col("ts")).as("w")).distinct()
    active.join(firstWeek, Seq("user_id"))
      .groupBy(col("cohort_week"),
        expr("CAST(datediff(w, cohort_week) DIV 7 AS BIGINT)").as("week_offset"))
      .agg(count(lit(1)).as("n_users")) // active is (user, week)-distinct
      .orderBy(col("cohort_week").asc_nulls_first, col("week_offset").asc_nulls_first)
  }

  private val cohortRetentionSql =
    """WITH fw AS (
      |  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      |  FROM events GROUP BY user_id),
      |act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events)
      |SELECT f.cohort_week,
      |  CAST(datediff('day', f.cohort_week, a.w) // 7 AS BIGINT) AS week_offset,
      |  CAST(COUNT(*) AS BIGINT) AS n_users
      |FROM act a JOIN fw f USING (user_id)
      |GROUP BY 1, 2
      |ORDER BY cohort_week NULLS FIRST, week_offset NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- ev8
  /** Volume-anomaly days via the median/MAD rule — the robust DQ monitor
    * (a mean/stddev z-score is itself dragged by the outliers it is
    * meant to find). Day counts → median → median absolute deviation →
    * flag |cnt − med| > 2·MAD. The exact interpolated percentile runs
    * over the DAY-GRAIN frame (calendar-bounded, thousands of rows at
    * any corpus size — the same exact-over-aggregated posture as q10,
    * whose entry pins Spark `percentile` ≡ DuckDB `quantile_cont`);
    * medians of integer counts land on exact .0/.5 doubles, so the
    * comparison is engine-stable. Scalars attach via broadcast cross
    * joins of one-row frames, never a driver collect.
    */
  private def anomalyDays(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val med = daily.agg(percentile(col("cnt"), lit(0.5)).as("med"))
    val withMed = daily.crossJoin(broadcast(med))
    val mad = withMed.agg(percentile(abs(col("cnt") - col("med")), lit(0.5)).as("mad"))
    withMed.crossJoin(broadcast(mad))
      .select(col("day"), col("cnt"), col("med"), col("mad"),
        (abs(col("cnt") - col("med")) > lit(2.0) * col("mad")).as("is_anomaly"))
      .orderBy(col("day").asc_nulls_first)
  }

  private val anomalyDaysSql =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1),
      |m AS (SELECT quantile_cont(cnt, 0.5) AS med FROM daily),
      |md AS (SELECT quantile_cont(abs(cnt - m.med), 0.5) AS mad FROM daily, m)
      |SELECT d.day, d.cnt, m.med, md.mad,
      |  abs(d.cnt - m.med) > 2 * md.mad AS is_anomaly
      |FROM daily d, m, md
      |ORDER BY day NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- ev9
  /** Peak interval concurrency per event type — the sweep-line census
    * ("how many sessions were live at once") behind capacity profiling.
    * Each event becomes an interval [es, es + dur] (dur = its value in
    * seconds, floored at 1 s so zero-length intervals cannot produce a
    * negative transient), the interval becomes a +1/−1 delta pair, and
    * the running delta sum under a total (t, delta, event_id) order is
    * the live count — delta sorts −1 before +1, so an interval ending
    * exactly when another starts does NOT overlap it, pinned identically
    * in both engines. Epoch-second integer time (the w3 convention)
    * keeps the order engine-stable.
    *
    * Scale posture: the expansion is map-side (2 rows per event); the
    * running sum partitions by event_type — fine for a bounded type
    * domain (one partition per type); the hierarchical two-level prefix
    * sum for unbounded domains (per-bucket delta totals + carry-in) is
    * implemented and hash-proven equivalent as `ev11`.
    */
  /** The map-side interval→delta expansion shared by ev9 (serial sweep)
    * and ev11 (hierarchical sweep) so the interval semantics can't drift
    * between the two spellings.
    */
  private def concurrencyDeltas(s: SparkSession, dir: String): DataFrame = {
    val es = unix_timestamp(col("ts"))
    val dur = greatest(lit(1L), round(col("value")).cast(LongType))
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"), es.as("es"), dur.as("dur"))
      .select(col("event_id"), col("event_type"), explode(array(
        struct(col("es").as("t"), lit(1L).as("delta")),
        struct((col("es") + col("dur")).as("t"), lit(-1L).as("delta")))).as("ev"))
      .select(col("event_id"), col("event_type"), col("ev.t"), col("ev.delta"))
  }

  private def concurrency(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val deltas = concurrencyDeltas(s, dir)
    val w = Window.partitionBy("event_type")
      .orderBy(col("t").asc_nulls_first, col("delta").asc_nulls_first,
        col("event_id").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("live", sum(col("delta")).over(w))
      .groupBy("event_type")
      .agg(max(col("live")).as("peak_concurrency"),
        expr("count(1) DIV 2").as("n_intervals")) // integer DIV, not `/`
      .orderBy(col("event_type").asc_nulls_first)
  }

  private val concurrencySql =
    """WITH iv AS (
      |  SELECT event_id, event_type, epoch_us(ts) // 1000000 AS es,
      |    GREATEST(1, CAST(round(value) AS BIGINT)) AS dur
      |  FROM events),
      |deltas AS (
      |  SELECT event_id, event_type, u.t, u.delta
      |  FROM iv, LATERAL unnest(
      |    [{'t': es, 'delta': CAST(1 AS BIGINT)},
      |     {'t': es + dur, 'delta': CAST(-1 AS BIGINT)}]) AS v(u)),
      |live AS (
      |  SELECT event_type,
      |    SUM(delta) OVER (PARTITION BY event_type
      |      ORDER BY t NULLS FIRST, delta NULLS FIRST, event_id NULLS FIRST
      |      ROWS UNBOUNDED PRECEDING) AS live
      |  FROM deltas)
      |SELECT event_type,
      |  CAST(MAX(live) AS BIGINT) AS peak_concurrency,
      |  CAST(COUNT(*) // 2 AS BIGINT) AS n_intervals
      |FROM live GROUP BY event_type
      |ORDER BY event_type NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- sj1
  /** The salted skew-resistant join as a GATE entry (previously only
    * spec-pinned): lineitem ⟕ supplier through operators/SaltedJoin —
    * the left side salted by a hash of the dispersion column, the small
    * side replicated once per salt bucket, join key (key, salt). The
    * oracle states the PLAIN left join: salting must be invisible in the
    * result, which is exactly the property worth hash-proving. Integer
    * casts (qty, cents) keep every output column engine-exact.
    */
  private def saltedJoinGate(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(
      col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
      round(col("l_quantity")).cast(LongType).as("l_qty"))
    val supp = t(s, dir, "supplier").select(
      col("s_suppkey").as("l_suppkey"), col("s_name"),
      round(col("s_acctbal") * 100).cast(LongType).as("s_acctbal_cents"))
    graft.operators.SaltedJoin
      .leftJoinSalted(li, supp, key = "l_suppkey", dispersion = "l_orderkey", buckets = 8)
      .orderBy(col("l_suppkey").asc_nulls_first, col("l_orderkey").asc_nulls_first,
        col("l_linenumber").asc_nulls_first, col("l_qty").asc_nulls_first,
        col("s_name").asc_nulls_first, col("s_acctbal_cents").asc_nulls_first)
  }

  private val saltedJoinGateSql =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  CAST(round(l_quantity) AS BIGINT) AS l_qty,
      |  s_name, CAST(round(s_acctbal * 100) AS BIGINT) AS s_acctbal_cents
      |FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
      |ORDER BY l_suppkey NULLS FIRST, l_orderkey NULLS FIRST,
      |  l_linenumber NULLS FIRST, l_qty NULLS FIRST,
      |  s_name NULLS FIRST, s_acctbal_cents NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- sj4
  /** AQE skew-split join as a GATE entry — the third leg of the skew
    * story (sj1 = explicit salting, sj2 = sketch-planned choice, sj4 =
    * Spark's own runtime split): a constructed 90%-hot key (9 of 10
    * orders collapse onto supplier key 1) rides a plain shuffle join
    * and `OptimizeSkewedJoin` splits the hot partition at runtime. The
    * oracle states the PLAIN join+agg — the split must be invisible in
    * the result (sj1's invisibility contract); OperatorsSpec pins
    * `skew=true` on THIS entry's executed adaptive plan, so the gate
    * row isn't vacuous.
    *
    * Conf scoping: the skew thresholds are lowered so gate-scale data
    * crosses them (defaults trigger at 256 MB per partition — the
    * production setting; the mechanism, not the threshold, is under
    * test) and broadcast is disabled (the split applies to shuffle
    * joins).
    *
    * Splittability: AQE's skew split works at MAP-OUTPUT granularity
    * (`PartialReducerPartitionSpec` carves the hot reducer partition
    * into map-index ranges), so a hot partition fed by a single mapper
    * can never be split — and the sf0.001 fact table is one small
    * parquet file = one scan task. `repartition(8, l_orderkey)` gives
    * the splitter its units at gate scale; on a production cluster the
    * fact scan has thousands of map tasks and this step is free to
    * drop. The extra exchange hashes on the UNIQUE orderkey, so the
    * 90%-hot join key spreads evenly across all 8 mappers.
    */
  private def skewJoinGate(s: SparkSession, dir: String): DataFrame = {
    Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true", // split even if it adds a shuffle later
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // skew detection compares each partition against the MEDIAN size;
      // under a 2-partition (test) session the median IS the hot
      // partition, so the split can mathematically never fire — pin 16
      // partitions here so the cold keys spread and the median is honest
      // (the exact trap OperatorsSpec's sibling skew test documents).
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      // thresholds are COMPRESSED shuffle bytes: the hot partition is a
      // constant key + small qty longs, so lz4 shrinks it ~10x — 2KB
      // keeps the gate firing even at sf0.001 (~5.4k hot rows)
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB"
    ).foreach { case (k, v) => s.conf.set(k, v) }
    val li = t(s, dir, "lineitem").select(
      when(col("l_orderkey") % 10 > 0, lit(1L))
        .otherwise(col("l_suppkey")).as("k"),
      round(col("l_quantity")).cast(LongType).as("qty"))
      .repartition(8, col("l_orderkey")) // ≥2 map tasks: see scaladoc
    val supp = t(s, dir, "supplier").select(
      col("s_suppkey").as("k"), col("s_name"))
    li.join(supp, Seq("k"))
      .groupBy(col("k"), col("s_name"))
      .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"))
      .orderBy(col("k").asc_nulls_first, col("s_name").asc_nulls_first)
  }

  private val skewJoinGateSql =
    """WITH li AS (
      |  SELECT CASE WHEN l_orderkey % 10 > 0 THEN 1 ELSE l_suppkey END AS k,
      |    CAST(round(l_quantity) AS BIGINT) AS qty
      |  FROM lineitem)
      |SELECT k, s_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(qty) AS BIGINT) AS sum_qty
      |FROM li JOIN supplier ON li.k = supplier.s_suppkey
      |GROUP BY k, s_name
      |ORDER BY k NULLS FIRST, s_name NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- sj2
  /** Sketch-PLANNED join ([[graft.operators.SketchJoin]]) — the
    * decision layer over sj1's explicit salting: bounded probes (build
    * count; Misra–Gries + exact rescore for probe-side skew) pick
    * broadcast / salted / shuffle, and the gate hashes BOTH the join
    * result and the decision. Constructed skew: every 3rd order
    * collapses onto key 1 (≈ 1/3 of probe rows — far past the 10%
    * gate), the rest spread over ~1000 keys; the dim side is the
    * distinct key inventory (~1000 rows at every test sf — over the
    * 500-row broadcast limit). So the planner must choose `salted` at
    * EVERY scale factor, and the oracle states that literally (the dq9
    * bounded-flag technique): a stats bug that flips the decision
    * changes the constant column and fails the hash, while a salting
    * bug changes the join rows themselves.
    */
  private def sketchPlannedJoinGate(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      when(col("l_orderkey") % 3 === 0, 1L)
        .otherwise(col("l_orderkey") % 1000L).as("k"),
      round(col("l_quantity")).cast(LongType).as("l_qty"))
    val dim = li.select(col("k")).distinct()
      .select(col("k"), (col("k") % 7L).as("k_class"))
    val (strategy, joined) = graft.operators.SketchJoin.planLeftJoin(
      li, dim, key = "k", dispersion = "l_orderkey",
      broadcastRowLimit = 500L, skewShareMilli = 100L, buckets = 8)
    joined
      .select(col("l_orderkey"), col("l_linenumber"), col("k"), col("l_qty"),
        col("k_class"), lit(strategy).as("strategy"))
      .orderBy(col("l_orderkey").asc_nulls_first, col("l_linenumber").asc_nulls_first,
        col("k").asc_nulls_first, col("l_qty").asc_nulls_first,
        col("k_class").asc_nulls_first)
  }

  private val sketchPlannedJoinGateSql =
    """WITH li AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE l_orderkey % 1000 END AS k,
      |    CAST(round(l_quantity) AS BIGINT) AS l_qty
      |  FROM lineitem),
      |dim AS (SELECT k, k % 7 AS k_class FROM (SELECT DISTINCT k FROM li))
      |SELECT li.l_orderkey, li.l_linenumber, li.k, li.l_qty, d.k_class,
      |  'salted' AS strategy
      |FROM li LEFT JOIN dim d ON li.k = d.k
      |ORDER BY li.l_orderkey NULLS FIRST, li.l_linenumber NULLS FIRST,
      |  li.k NULLS FIRST, li.l_qty NULLS FIRST, k_class NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- sj3
  /** Sketch-estimated JOIN ORDER — the System-R half of the decision
    * layer (sj2 picks one join's physical strategy; this orders a
    * CHAIN): lineitem star-joins two filtered dimensions, and
    * [[graft.operators.SketchJoin.planJoinChain]] joins the one with
    * the smaller containment-bound estimate n_f·n_d / max(ndv_f, ndv_d)
    * first, every NDV from one bounded KMV-sketch pass per frame (no
    * COUNT DISTINCT exchange). Inner equi-joins commute, so the census
    * is order-independent — the decision is gated through the
    * `join_order` column, which the oracle restates with EXACT NDVs:
    * the two estimates differ by ~40% while the only above-k sketch
    * (ndv(l_orderkey)) carries σ ≈ 1.1%, dq9's many-σ bounded-flag
    * posture, so sketch and exact NDVs provably order the dims the
    * same way. At every test scale the supplier dim (~12% of a
    * 100-supplier key space ⇒ est ≈ 0.12·n_f) beats urgent-orders (~⅕
    * of orders ⇒ est ≈ 0.2·n_f), so the gate pins the supplier-first
    * arm; SketchJoinSpec drives BOTH decision directions on
    * constructed frames and pins the reversed-order frame equal.
    */
  private def sketchJoinOrderGate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.SketchJoin
    val fact = t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_suppkey"),
      round(col("l_quantity")).cast(LongType).as("l_qty"))
    val urgent = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val lowNation = t(s, dir, "supplier")
      .filter(col("s_nationkey") < 3)
      .select(col("s_suppkey"), col("s_nationkey"))
    val (order, joined) = SketchJoin.planJoinChain(fact, Seq(
      SketchJoin.JoinDim("orders", urgent, "l_orderkey", "o_orderkey"),
      SketchJoin.JoinDim("supplier", lowNation, "l_suppkey", "s_suppkey")))
    joined.groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_rows"), sum(col("l_qty")).as("sum_qty"))
      .select(col("s_nationkey"), col("n_rows"), col("sum_qty"),
        lit(order.mkString(">")).as("join_order"))
      .orderBy(col("s_nationkey").asc_nulls_first)
  }

  private val sketchJoinOrderGateSql =
    """WITH f AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS ndv_ok,
      |    CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS ndv_sk
      |  FROM lineitem),
      |dord AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS ndv
      |  FROM orders WHERE o_orderpriority = '1-URGENT'),
      |dsup AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(COUNT(DISTINCT s_suppkey) AS BIGINT) AS ndv
      |  FROM supplier WHERE s_nationkey < 3),
      |decide AS (
      |  SELECT CASE
      |    WHEN (f.n * dsup.n) // GREATEST(f.ndv_sk, dsup.ndv)
      |       < (f.n * dord.n) // GREATEST(f.ndv_ok, dord.ndv)
      |      THEN 'supplier>orders'
      |    ELSE 'orders>supplier' END AS join_order
      |  FROM f, dord, dsup)
      |SELECT s_nationkey, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |  (SELECT join_order FROM decide) AS join_order
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey AND o_orderpriority = '1-URGENT'
      |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey < 3
      |GROUP BY s_nationkey
      |ORDER BY s_nationkey NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- bf1
  /** Bloom-prefiltered semi join — the manual spelling of the runtime
    * bloom filter (semi-join pushdown): build a bloom over the filtered
    * build side's keys (driver-side, ~180 KB at 1% fpp — broadcast
    * class), probe it map-side on the probe side via the codegen
    * `BloomMightContain` kernel so ~77% of customers never reach the
    * exchange, then the exact left-semi join removes the false
    * positives. No false negatives (dd9's spec-pinned property) ⇒ the
    * result is EXACTLY the plain semi join, which is what the oracle
    * states (a literal EXISTS). The build-side count sizing the filter
    * is one job over the date-pruned scan; at production scale that
    * number comes from table stats instead.
    */
  private val RecentCut = "2001-06-01"

  private def bloomSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val recent = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit(RecentCut).cast(TimestampType))
      .select(col("o_custkey").cast(StringType).as("k"))
      .persist(StorageLevel.MEMORY_AND_DISK) // bloom build + count + semi probe
    val bytes = VectorFunctions.bloomBytesOf(recent, "k", fpp = 0.01)
    t(s, dir, "customer")
      .filter(VectorFunctions.bloomMightContain(col("c_custkey").cast(StringType), bytes))
      .join(recent.select(col("k").cast(LongType).as("c_custkey")), Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal") * 100).cast(LongType).as("acctbal_cents"))
      .orderBy(col("c_custkey").asc_nulls_first)
  }

  private val bloomSemiJoinSql =
    s"""SELECT c_custkey, c_name,
       |  CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
       |FROM customer
       |WHERE EXISTS (SELECT 1 FROM orders
       |              WHERE o_custkey = c_custkey
       |                AND o_orderdate >= TIMESTAMP '$RecentCut')
       |ORDER BY c_custkey NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- bkt1
  /** Ingest-time semantics made literal: the bucketed layout is written
    * once per (context, corpus dir) and reused after that — the first
    * call pays the layout job, repeat calls measure the amortized
    * co-located query, which is the posture the entry exists to show.
    * The table name carries the dir, so a name never points at another
    * dir's layout (a sf0.001 spec and the sf0.01 gate in one JVM).
    */
  private def bucketed(df: DataFrame, tag: String, key: String, dir: String): DataFrame = {
    val s = df.sparkSession
    val table = s"graft_${tag}_" + dir.replaceAll("[^A-Za-z0-9_]", "_")
    graft.Scratch.once(s, tag, dir)(graft.operators.Bucketing.writeBucketed(df, table, key, 8, _))
    s.table(table)
  }

  /** Bucketed co-located fact-fact join + aggregation as a GATE entry
    * (previously only spec-pinned in OperatorsSpec): lineitem and orders
    * are laid out once as same-bucketed catalog tables on the order key,
    * then joined AND aggregated on that key. The bucketed scans report
    * `HashPartitioning(o_orderkey, 8)`, which satisfies the join's
    * clustered distribution on both sides AND the aggregate's (the
    * group-by keys are a superset of the bucket key), so the whole
    * join+agg runs with ZERO shuffle exchanges before the presentation
    * sort — the spec pins exactly that on this entry's plan. This is the
    * canonical 100 TB fact-fact posture: bucketing is a one-time layout
    * cost paid at ingest and amortized over every subsequent co-located
    * join/agg on the key, where it deletes the two largest exchanges a
    * TPC-H-shaped pipeline would otherwise pay per query. The oracle
    * states the PLAIN join+agg over the raw parquet: the physical layout
    * must be invisible in the result, which is the property worth
    * hash-proving (same contract as sj1's salting invisibility).
    */
  private def bucketedJoinGate(s: SparkSession, dir: String): DataFrame = {
    val orders = bucketed(t(s, dir, "orders"), "bkt1_orders", "o_orderkey", dir)
    bucketed(t(s, dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
      "bkt1_lineitem", "o_orderkey", dir)
      .join(orders, Seq("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"), sum(Stats.revenueE4).as("revenue_e4"))
      .orderBy(col("o_orderkey").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first,
        col("n_lines").asc_nulls_first, col("revenue_e4").asc_nulls_first)
  }

  private val bucketedJoinGateSql =
    """SELECT l_orderkey AS o_orderkey, o_orderpriority,
      |  COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
      |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
      |    AS revenue_e4
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1, 2
      |ORDER BY o_orderkey NULLS FIRST, o_orderpriority NULLS FIRST,
      |  n_lines NULLS FIRST, revenue_e4 NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- dpp1
  /** DYNAMIC PARTITION PRUNING under the oracle — the engine feature a
    * partitioned 100 TB fact table lives or dies by: the fact (orders,
    * re-written partitioned by order month — bkt1/cmp1's bootstrap
    * pattern) joins a dim whose surviving keys are only knowable at
    * RUNTIME (months where the urgent-order count hits a data-dependent
    * predicate), so static partition pruning is impossible and Spark
    * must inject the broadcast dim as a runtime partition filter on the
    * fact scan (`dynamicpruningexpression` — reusing the join's own
    * broadcast, so the filter costs nothing extra). The hash proves the
    * partitioned round-trip + join + aggregate; the MECHANISM (the
    * pruning filter on the scan, and that it prunes strictly fewer than
    * all partitions) is pinned in NewShapePinsSpec, sj4-style.
    *
    * Scale posture: ~84 month partitions at any SF; the dim aggregate
    * is month-grain (tiny, broadcast); the fact scan reads ONLY the
    * surviving months — at 100 TB this is the difference between
    * scanning a month and scanning a decade. The partition column is a
    * string month so partition-value inference round-trips exactly.
    */
  private[graft] def dppRoot(s: SparkSession, dir: String): String =
    graft.Scratch.root(s, "dpp1", dir)

  private def partitionPrunedJoin(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.once(s, "dpp1", dir) { root =>
      t(s, dir, "orders")
        .withColumn("om", date_format(col("o_orderdate"), "yyyy-MM"))
        .write.mode("overwrite").partitionBy("om").parquet(root)
    }
    val fact = s.read.parquet(root)
    val dim = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("om"))
      .agg(count(when(col("o_orderpriority") === "1-URGENT", 1)).as("n_urgent"))
      .filter(col("n_urgent") % 3 === 0) // runtime-only month subset
      .select(col("om"))
    fact.join(broadcast(dim), Seq("om"))
      .groupBy(col("om"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast(LongType)).as("sum_cents"))
      .orderBy(col("om").asc_nulls_first)
  }

  private val partitionPrunedJoinSql =
    """WITH dim AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS om,
      |    CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent
      |  FROM orders GROUP BY 1)
      |SELECT f.om, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM (SELECT strftime(o_orderdate, '%Y-%m') AS om, o_totalprice FROM orders) f
      |  JOIN dim d ON f.om = d.om
      |WHERE d.n_urgent % 3 = 0
      |GROUP BY f.om
      |ORDER BY f.om NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- cmp1
  /** Compaction-invisibility gate — the [[graft.sinks.Compactor]] was
    * the one r11 operator with no CORRECTNESS row (spec-only; VERDICT
    * r11 #8). bkt1's pattern: the first call per (context, corpus dir)
    * builds a deliberately FRAGMENTED copy of `documents` (32-way
    * repartition — one small file per task, the per-ingest storm
    * compaction exists to fix) as a [[graft.sinks.VersionedTable]],
    * then compacts it through [[graft.sinks.Compactor.compactVersioned]]
    * — the two-phase atomic publish. The query reads the table through
    * the marker-resolution path and aggregates; the oracle states the
    * same aggregation over the RAW parquet, so the fragmentation, the
    * rewrite, and the commit protocol must all be invisible in the
    * result — the property worth hash-proving (bkt1/sj1's invisibility
    * contract). Non-vacuity (files genuinely merged, crash-between-
    * phases reader isolation) is pinned by SinksOpsSpec.
    */
  private def compactedTableGate(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.once(s, "cmp1", dir) { root =>
      // a build that threw part-way left versions behind: start clean
      graft.sinks.VersionedTable.drop(s, root)
      graft.sinks.VersionedTable.publish(s, root,
        t(s, dir, "documents").repartition(32))
      graft.sinks.Compactor.compactVersioned(s, root, 256L * 1024 * 1024)
      ()
    }
    graft.sinks.VersionedTable.read(s, root)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(length(col("text"))).as("sum_len"))
      .orderBy(col("lang").asc_nulls_first)
  }

  private val compactedTableGateSql =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(length(text)) AS BIGINT) AS sum_len
      |FROM documents GROUP BY lang
      |ORDER BY lang NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- opt5
  /** Materialized-view roll-up rewrite under the oracle — the
    * query-rewrite half of the MV posture
    * ([[graft.plans.MaterializedViewRewrite]] scaladoc has the full
    * derivability contract). The entry builds a (returnflag, linestatus)
    * summary of lineitem ONCE per (context, corpus) — sum-of-cents
    * measures per the money convention, exact BIGINT partials — then
    * runs a FILTERED ROLL-UP against the BASE table: group by
    * l_returnflag only, restricted to linestatus 'F'. With the rule
    * enabled the optimizer re-plans it onto the few-row summary (the
    * filter transplants onto an MV grouping column; the sums re-
    * aggregate exactly); the DuckDB oracle computes from RAW lineitem,
    * so the hash proves MV-path ≡ base-path end-to-end. The plan pin
    * (OptimizerRuleSpec) proves the rewrite actually fired: the executed
    * plan scans the summary path and never touches lineitem.parquet.
    *
    * The per-row cents expressions are shared between the MV definition
    * and the query (`mvQtyCents`/`mvPriceCents`) — the rule matches on
    * normalized SQL of the optimized aggregate, which is exactly the MV
    * contract: derivability, not algebra search.
    */
  private def mvQtyCents: org.apache.spark.sql.Column = expr("CAST(round(l_quantity * 100) AS BIGINT)")
  private def mvPriceCents: org.apache.spark.sql.Column = expr("CAST(round(l_extendedprice * 100) AS BIGINT)")

  private def mvRewriteGate(s: SparkSession, dir: String): DataFrame = {
    graft.Scratch.once(s, "mv", dir) { root =>
      val base = t(s, dir, "lineitem")
      val defn = base
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(mvQtyCents).as("sum_qty_c"),
          sum(mvPriceCents).as("sum_price_c"),
          count(lit(1)).as("cnt"))
      defn.write.mode("overwrite").parquet(root)
      graft.plans.MaterializedViewRewrite.register(s, base, defn, root)
    }
    GraftRules.install(s, graft.plans.MaterializedViewRewrite)
    t(s, dir, "lineitem")
      .filter(col("l_linestatus") === "F")
      .groupBy(col("l_returnflag"))
      .agg(
        sum(mvQtyCents).as("sum_qty_c"),
        sum(mvPriceCents).as("sum_price_c"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("l_returnflag").asc_nulls_first)
  }

  private val mvRewriteGateSql =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines
      |FROM lineitem
      |WHERE l_linestatus = 'F'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- opt6
  /** Incremental materialized-view REFRESH through the atomic publish
    * protocol — the maintenance half of the MV posture (opt5 is the
    * query-rewrite half; [[graft.sinks.VersionedTable]] is the storage).
    * The initial corpus (6 of 7 orderkey residues) folds to a
    * (returnflag, linestatus) summary published as v1; an append batch
    * (the 7th residue) then refreshes the MV by aggregating ONLY the
    * delta and merging it with the few-row committed summary — sums and
    * counts add, min/max merge (append-only tables never retract, so
    * MIN/MAX are incrementally maintainable; deletes would demote them
    * to full recompute) — published as v2. The entry returns the
    * refreshed summary; the DuckDB oracle computes the SAME summary from
    * the raw full table, so the hash proves delta-merge ≡ full-recompute
    * end-to-end, and the retention rule keeps v1 alive so MvRefreshSpec
    * can pin that v1 really was the partial (the refresh was genuinely
    * incremental, not a hidden full rebuild).
    *
    * Why this matters at 100 TB: a nightly full MV rebuild re-reads the
    * whole fact table; the incremental refresh reads yesterday's
    * summary (KBs) plus the new partition (the delta), an O(delta)
    * job — and the two-phase publish means dashboards reading the MV
    * never observe a half-refreshed summary. At gate scale both
    * "batches" are filters over one parquet; on a partitioned fact
    * table the delta filter is partition pruning.
    */
  private[graft] def mvRefreshRoot(s: SparkSession, dir: String): String =
    graft.Scratch.root(s, "mvref", dir)

  /** The MV grain shared by v1, the delta fold, and the oracle. */
  private def mvRefreshSummary(df: DataFrame): DataFrame =
    df.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(mvQtyCents).as("sum_qty_c"),
        sum(mvPriceCents).as("sum_price_c"),
        count(lit(1)).as("cnt"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"))

  private def mvRefreshGate(s: SparkSession, dir: String): DataFrame = {
    import graft.sinks.VersionedTable
    val root = graft.Scratch.once(s, "mvref", dir) { root =>
      VersionedTable.drop(s, root)
      val li = t(s, dir, "lineitem")
      VersionedTable.publish(s, root,
        mvRefreshSummary(li.filter(col("l_orderkey") % 7 =!= 0)))
      // refresh: committed summary (few rows) + delta fold, re-merged
      val merged = VersionedTable.read(s, root)
        .unionByName(mvRefreshSummary(li.filter(col("l_orderkey") % 7 === 0)))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("sum_qty_c")).as("sum_qty_c"),
          sum(col("sum_price_c")).as("sum_price_c"),
          sum(col("cnt")).as("cnt"),
          min(col("min_ship")).as("min_ship"),
          max(col("max_ship")).as("max_ship"))
      VersionedTable.publish(s, root, merged)
      ()
    }
    VersionedTable.read(s, root)
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  // --------------------------------------------------------------- opt7
  /** Constraint-based JOIN ELIMINATION under the oracle
    * ([[graft.plans.JoinEliminationRewrite]] scaladoc has the soundness
    * argument): the query LEFT-joins lineitem to orders on the orders
    * key and then aggregates ONLY lineitem columns — the view-stack /
    * generated-BI shape where a dimension is joined "just in case" and
    * never read. `TableConstraints.registerUnique` first VERIFIES
    * o_orderkey is duplicate-free (one ANALYZE-style aggregate pass,
    * memoized per app; a false claim is refused); with the rule installed, the
    * optimizer then drops the join — the plan never scans orders at all
    * (OptimizerRuleSpec pins that). The DuckDB oracle EXECUTES the full
    * join, so the hash is the end-to-end soundness proof: eliminating
    * the join changed nothing.
    */
  private def joinElimGate(s: SparkSession, dir: String): DataFrame = {
    require(graft.plans.TableConstraints.registerUnique(s, t(s, dir, "orders"), "o_orderkey"),
      "o_orderkey failed the uniqueness audit — testdata changed?")
    GraftRules.install(s, graft.plans.JoinEliminationRewrite)
    val li = t(s, dir, "lineitem")
    val or = t(s, dir, "orders")
    li.join(or, li("l_orderkey") === or("o_orderkey"), "left")
      .groupBy(col("l_returnflag"))
      .agg(
        sum(mvQtyCents).as("sum_qty_c"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag").asc_nulls_first)
  }

  private val joinElimGateSql =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows
      |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- opt8
  /** EAGER AGGREGATION through the dimension join under the oracle
    * ([[graft.plans.EagerAggregationRewrite]] has the soundness and the
    * Yan–Larson lineage): the canonical report shape — fact INNER JOIN
    * dim on the dim's verified-unique key, GROUP BY a dim attribute —
    * re-plans with the fact-side partials pushed BELOW the join,
    * grouped by the join key: at sf0.1 the join probes 1 000
    * pre-aggregated rows instead of 600 000 fact rows, and at 100 TB
    * that ratio is the whole game for this query family. The DuckDB
    * oracle states the plain single-aggregate query; OptimizerRuleSpec
    * pins that the executed plan really has an Aggregate BELOW the
    * join.
    */
  private def eagerAggGate(s: SparkSession, dir: String): DataFrame = {
    require(graft.plans.TableConstraints.registerUnique(s, t(s, dir, "supplier"), "s_suppkey"),
      "s_suppkey failed the uniqueness audit — testdata changed?")
    GraftRules.install(s, graft.plans.EagerAggregationRewrite)
    val li = t(s, dir, "lineitem")
    val supp = t(s, dir, "supplier")
    li.join(supp, li("l_suppkey") === supp("s_suppkey"), "inner")
      .groupBy(col("s_name"))
      .agg(
        sum(mvQtyCents).as("sum_qty_c"),
        count(lit(1)).as("n_rows"),
        max(col("l_shipdate")).as("max_ship"))
      .orderBy(col("s_name").asc_nulls_first)
  }

  private val eagerAggGateSql =
    """SELECT s_name,
      |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  MAX(l_shipdate) AS max_ship
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_name
      |ORDER BY s_name NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- opt9
  /** RULE COMPOSITION under the oracle — the optimizer rules are not
    * islands: the canonical view-stack query (fact LEFT JOIN dim whose
    * columns are never read, filtered + aggregated on fact columns)
    * needs TWO rewrites to reach its best plan, in sequence: join
    * elimination (opt7) strips the dim join, which EXPOSES the bare
    * filtered aggregate that MV rewrite (opt5) re-plans onto the
    * published summary. The final plan scans ONLY the few-row MV —
    * neither lineitem nor orders (OptimizerRuleSpec-style pin in
    * MvRewriteSpec); the DuckDB oracle executes the full join + raw
    * aggregate, so the hash proves the composed rewrite end-to-end.
    * The extra-optimizer batch re-runs rules to fixpoint, so the
    * composition holds regardless of install order.
    */
  private def ruleCompositionGate(s: SparkSession, dir: String): DataFrame = {
    mvRewriteGate(s, dir) // memoized: MV built + registered for this app
    require(graft.plans.TableConstraints.registerUnique(s, t(s, dir, "orders"), "o_orderkey"),
      "o_orderkey failed the uniqueness audit — testdata changed?")
    GraftRules.install(s, graft.plans.MaterializedViewRewrite,
      graft.plans.JoinEliminationRewrite)
    val li = t(s, dir, "lineitem")
    val or = t(s, dir, "orders")
    li.join(or, li("l_orderkey") === or("o_orderkey"), "left")
      .filter(col("l_linestatus") === "F")
      .groupBy(col("l_returnflag"))
      .agg(
        sum(mvQtyCents).as("sum_qty_c"),
        sum(mvPriceCents).as("sum_price_c"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("l_returnflag").asc_nulls_first)
  }

  private val ruleCompositionGateSql =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines
      |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_linestatus = 'F'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- opt10
  /** STAR-SCHEMA MV derivability under the oracle — the classic
    * warehouse dashboard query is an aggregate over fact ⟕ broadcast
    * dims GROUPED BY A DIM ATTRIBUTE, which neither opt5 (single-table
    * matcher) nor opt7 (the parent reads dim columns, so the join
    * can't be eliminated) could touch. [[graft.plans
    * .MaterializedViewRewrite.registerStar]] extracts the whole star
    * shape (fact scan + every LEFT OUTER equi-leg + groups + measures)
    * from the definition's optimized plan; the query-side matcher
    * recognizes the SAME star (canonical dim-set signature, so join
    * order is irrelevant; file-listing fingerprints on the fact and
    * every dim, so staleness stands it down) and re-plans the
    * dashboard query onto the few-hundred-row summary. Soundness needs
    * no uniqueness constraint: equal listings make the query's join
    * bag-identical to the join the MV summarized. The entry builds a
    * (o_orderpriority, s_nationkey) summary of lineitem ⟕ orders ⟕
    * supplier once per (context, corpus), then runs the coarser
    * "revenue by order priority" roll-up; the DuckDB oracle EXECUTES
    * the full two-dim join + aggregate, so the hash proves
    * star-MV-path ≡ raw-join-path. MvRewriteSpec pins that the
    * executed plan scans ONLY the summary — no lineitem, no orders, no
    * supplier. At 100 TB this is the difference between a dashboard
    * refresh that re-joins the fact table and one that reads kilobytes.
    */
  private def starJoin(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val or = t(s, dir, "orders")
    val supp = t(s, dir, "supplier")
    li.join(or, li("l_orderkey") === or("o_orderkey"), "left")
      .join(supp, li("l_suppkey") === supp("s_suppkey"), "left")
  }

  private def starMvGate(s: SparkSession, dir: String): DataFrame = {
    graft.Scratch.once(s, "starmv", dir) { root =>
      val defn = starJoin(s, dir)
        .groupBy(col("o_orderpriority"), col("s_nationkey"))
        .agg(
          sum(mvPriceCents).as("sum_price_c"),
          sum(mvQtyCents).as("sum_qty_c"),
          count(lit(1)).as("cnt"))
      defn.write.mode("overwrite").parquet(root)
      graft.plans.MaterializedViewRewrite.registerStar(s, defn, root)
    }
    GraftRules.install(s, graft.plans.MaterializedViewRewrite)
    starJoin(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(mvPriceCents).as("sum_price_c"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority").asc_nulls_first)
  }

  private val starMvGateSql =
    """SELECT o_orderpriority,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines
      |FROM lineitem
      |LEFT JOIN orders ON l_orderkey = o_orderkey
      |LEFT JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- opt13
  /** AVG derivability from the star summary — the dashboard's next
    * query after opt10's "revenue by priority" is "AVERAGE order value
    * by priority", and the MV stores no avg partial. None is needed:
    * avg(e) = SUM(sum_e) / SUM(cnt), with two soundness obligations the
    * rewrite discharges ([[graft.plans.MaterializedViewRewrite]]):
    * the denominator must be the NON-NULL count of e (COUNT(*) is
    * licensed by registration's null-free audit, kept current by the
    * listing fingerprint), and the division must be value-identical to
    * the raw Average (exact integral totals, one final division —
    * identical wherever the raw double accumulation is itself exact,
    * i.e. below 2^53; strictly more exact past it). The quantized
    * projection (floor(avg*1000)) rides INSIDE the rewritten Aggregate
    * (CollapseProject folds it), so this also gates the composite
    * scalar-shell transplant. count(DISTINCT) stays un-derivable —
    * MvRewriteSpec pins the refusal. The DuckDB oracle executes the raw
    * two-dim join + AVG; MvRewriteSpec pins that only the summary is
    * scanned. At 100 TB: the avg dashboard reads kilobytes, not the
    * fact table.
    */
  private def starAvgGate(s: SparkSession, dir: String): DataFrame = {
    starMvGate(s, dir) // memoized: star MV built + registered for this app
    GraftRules.install(s, graft.plans.MaterializedViewRewrite)
    starJoin(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(avg(mvPriceCents).as("avg_price"), count(lit(1)).as("n_lines"))
      .select(col("o_orderpriority"),
        expr("CAST(floor(avg_price * 1000) AS BIGINT)").as("avg_price_milli"),
        col("n_lines"))
      .orderBy(col("o_orderpriority").asc_nulls_first)
  }

  private val starAvgGateSql =
    """SELECT o_orderpriority,
      |  CAST(floor(AVG(CAST(round(l_extendedprice * 100) AS BIGINT)) * 1000) AS BIGINT)
      |    AS avg_price_milli,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines
      |FROM lineitem
      |LEFT JOIN orders ON l_orderkey = o_orderkey
      |LEFT JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- opt14
  /** DISTINCT ELIMINATION under the oracle
    * ([[graft.plans.DistinctEliminationRewrite]] has the soundness
    * argument): the inherited-pipeline shape — a defensive
    * `dropDuplicates` on the ingest key before aggregating — where the
    * dedup's hash aggregate shuffles the full table to remove nothing.
    * `TableConstraints.registerKey` first VERIFIES the full PRIMARY KEY
    * contract (o_orderkey unique AND null-free — strictly more than
    * opt7's uniqueness, because dropDuplicates would merge equal NULL
    * keys); with the rule installed, the optimizer collapses the dedup to a
    * streaming projection and the plan carries ONE aggregate (the
    * groupBy), not two (OptimizerRuleSpec pins that, plus the null-key
    * and non-key refusals). The DuckDB oracle executes the plain
    * aggregate — sound to state WITHOUT the dedup exactly because the
    * key is unique, which the audit, not faith, established.
    */
  private def distinctElimGate(s: SparkSession, dir: String): DataFrame = {
    require(graft.plans.TableConstraints.registerKey(s, t(s, dir, "orders"), "o_orderkey"),
      "o_orderkey failed the primary-key audit — testdata changed?")
    GraftRules.install(s, graft.plans.DistinctEliminationRewrite)
    t(s, dir, "orders")
      .dropDuplicates("o_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("sum_price_c"))
      .orderBy(col("o_orderpriority").asc_nulls_first)
  }

  private val distinctElimGateSql =
    """SELECT o_orderpriority,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- opt15
  /** SINGLETON-GROUP AGGREGATE COLLAPSE under the oracle — opt14's
    * constraint widened from dedup to REAL aggregates: a `groupBy` on
    * a verified primary key makes every group one row, so `sum(x)` IS
    * x (cast), `count(*)` IS 1, `min(x)` IS x — the whole blocking
    * hash aggregate (a full shuffle) replaces with a streaming
    * projection ([[graft.plans.DistinctEliminationRewrite.collapsed]]
    * has the per-function forms and the DECIMAL/FILTER refusals). The
    * shape is the inherited-pipeline classic: an inner "per-order
    * rollup" keyed by the ingest key — vacuous, but only a PRIMARY KEY
    * proof makes removing it sound — feeding a real rollup. With the
    * rule installed the plan carries ONE aggregate (the outer); the DuckDB
    * oracle states the query WITHOUT the inner rollup, sound exactly
    * because the audited key is unique and null-free.
    * DistinctElimSpec pins the plan shape, the value equality against
    * the rule-off run, and the decimal-sum refusal.
    */
  private def singletonAggGate(s: SparkSession, dir: String): DataFrame = {
    require(graft.plans.TableConstraints.registerKey(s, t(s, dir, "orders"), "o_orderkey"),
      "o_orderkey failed the primary-key audit — testdata changed?")
    GraftRules.install(s, graft.plans.DistinctEliminationRewrite)
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"),
        col("o_orderdate"))
      .groupBy(col("o_orderkey"), col("o_orderpriority")) // singleton: pk in keys
      .agg(
        sum(col("price_c")).as("order_total_c"),
        count(lit(1)).as("n_lines"),
        min(col("o_orderdate")).as("first_date"))
      .groupBy(col("o_orderpriority")) // the real rollup
      .agg(
        sum(col("order_total_c")).as("sum_price_c"),
        sum(col("n_lines")).as("n_orders"),
        min(col("first_date")).as("min_date"))
      .orderBy(col("o_orderpriority").asc_nulls_first)
  }

  private val singletonAggGateSql =
    """SELECT o_orderpriority,
      |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  MIN(o_orderdate) AS min_date
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- opt16
  /** An unfiltered global aggregate — `SELECT count(*), count(col),
    * min(k), max(k) FROM lineitem` — answered by a scan and Spark's
    * partial/final hash aggregate. No rule rewrites it; the DuckDB oracle
    * executes the same aggregation.
    */
  private def footerAggGate(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("l_shipdate")).as("n_shipdates"),
        min(col("l_orderkey")).as("min_okey"),
        max(col("l_orderkey")).as("max_okey"),
        min(col("l_partkey")).as("min_pkey"),
        max(col("l_suppkey")).as("max_skey"))

  private val footerAggGateSql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(l_shipdate) AS BIGINT) AS n_shipdates,
      |  MIN(l_orderkey) AS min_okey, MAX(l_orderkey) AS max_okey,
      |  MIN(l_partkey) AS min_pkey, MAX(l_suppkey) AS max_skey
      |FROM lineitem""".stripMargin

  // --------------------------------------------------------------- opt12
  /** FILTERED star-MV derivability under the oracle — the other half of
    * every dashboard: "revenue by nation WHERE returnflag = 'R'". The
    * optimizer pushes the fact-column predicate below both dim joins
    * onto the fact scan, so the star matcher meets it at the fact LEAF
    * ([[graft.plans.MaterializedViewRewrite]]'s queryFactLeaf); it is
    * admitted only over MV GROUPING columns and transplants 1:1 onto
    * the summary — sound because a fact-column filter commutes with
    * every left dim join (the filtered join's groups are exactly the MV
    * groups passing the predicate), and on the summary it becomes
    * min/max-prunable instead of a full fact scan. The MV here groups
    * by (l_returnflag, s_nationkey); the gate query filters the fact
    * grouping column and rolls up to the dim attribute. DuckDB executes
    * the raw filtered join; MvRewriteSpec pins that only the summary is
    * scanned and that non-grouping-column filters refuse.
    */
  private def filteredStarGate(s: SparkSession, dir: String): DataFrame = {
    def join(sess: SparkSession): DataFrame = {
      val li = t(sess, dir, "lineitem")
      val supp = t(sess, dir, "supplier")
      li.join(supp, li("l_suppkey") === supp("s_suppkey"), "left")
    }
    graft.Scratch.once(s, "starmv2", dir) { root =>
      val defn = join(s)
        .groupBy(col("l_returnflag"), col("s_nationkey"))
        .agg(sum(mvPriceCents).as("sum_price_c"), count(lit(1)).as("cnt"))
      defn.write.mode("overwrite").parquet(root)
      graft.plans.MaterializedViewRewrite.registerStar(s, defn, root)
    }
    GraftRules.install(s, graft.plans.MaterializedViewRewrite)
    join(s)
      .filter(col("l_returnflag") === "R")
      .groupBy(col("s_nationkey"))
      .agg(sum(mvPriceCents).as("sum_price_c"), count(lit(1)).as("n_lines"))
      .select(coalesce(col("s_nationkey"), lit(-1L)).as("nation_key"),
        col("sum_price_c"), col("n_lines"))
      .orderBy(col("nation_key").asc_nulls_first)
  }

  private val filteredStarGateSql =
    """SELECT COALESCE(s_nationkey, -1) AS nation_key,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines
      |FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
      |WHERE l_returnflag = 'R'
      |GROUP BY COALESCE(s_nationkey, -1)
      |ORDER BY nation_key NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- opt17
  /** Thresholded-levenshtein rewrite under the oracle
    * ([[graft.plans.LevenshteinThresholdRewrite]]): the query is
    * spelled NAIVELY — `levenshtein(na, nb) <= 2` over blocked
    * candidate pairs — and the always-on rule re-plans the predicate as
    * the banded `levenshtein(na, nb, 2) >= 0` (O(t·n) with a length
    * early-exit instead of the full DP matrix per pair). The oracle is
    * the same naive SQL, so the hash proves the rewrite is invisible;
    * OptimizerRuleSpec-style mechanism pinning (the optimized plan's
    * levenshtein carries the threshold) lives in NewShapePinsSpec.
    * Non-vacuity by construction: er1's corrupted-twin fixture
    * guarantees lev-1 pairs inside the blocks.
    */
  private def levThresholdGate(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val base = c.select(col("c_custkey").as("id"), col("c_name").as("name"),
      col("c_nationkey").as("nat"), floor(col("c_acctbal")).cast(LongType).as("bal"))
    val twins = c
      .select((col("c_custkey") + lit(1000000000L)).as("id"),
        TwinCorruption.name().as("name"),
        col("c_nationkey").as("nat"), floor(col("c_acctbal")).cast(LongType).as("bal"))
    val all = base.unionByName(twins)
    val a = all.select(col("id").as("a"), col("name").as("na"), col("nat"), col("bal"))
    val b = all.select(col("id").as("b"), col("name").as("nb"), col("nat"), col("bal"))
    a.join(b, Seq("nat", "bal"))
      .filter(col("a") < col("b") && levenshtein(col("na"), col("nb")) <= 2)
      .groupBy(col("nat"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("nat").asc_nulls_first)
  }

  private val levThresholdGateSql =
    s"""WITH src AS (
      |  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nat,
      |    CAST(floor(c_acctbal) AS BIGINT) AS bal
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey + 1000000000,
      |    ${TwinCorruption.nameSql(0)},
      |    c_nationkey, CAST(floor(c_acctbal) AS BIGINT)
      |  FROM customer)
      |SELECT a.nat, CAST(COUNT(*) AS BIGINT) AS n_pairs
      |FROM src a JOIN src b ON a.nat = b.nat AND a.bal = b.bal
      |WHERE a.id < b.id AND levenshtein(a.name, b.name) <= 2
      |GROUP BY a.nat
      |ORDER BY a.nat NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- opt11
  /** The FULL production star-MV loop under one oracle — registration →
    * rewrite → base growth → STALENESS STAND-DOWN → incremental refresh
    * → re-registration → rewrite re-armed. opt10 proves the star
    * matcher; the r14 staleness work proves the stand-down; this entry
    * proves the composition end-to-end the way a warehouse lives it:
    * the fact table is a real parquet path that GROWS (an appended
    * part-file), the refresh folds ONLY the delta through the dim join
    * and merges it with the committed summary (sums/counts add), and
    * the refreshed MV is re-registered over the new listing — after
    * which the dashboard query re-plans onto the summary again. The
    * DuckDB oracle computes the FULL join + aggregate from the raw
    * tables, so the hash proves the delta-refreshed summary ≡ a full
    * recompute: a wrong merge, a stale rewrite firing mid-flight, or a
    * fingerprint mismatch all shift the values. MvRewriteSpec pins the
    * plan states (fires fresh → stands down stale → fires again after
    * re-registration).
    */
  private def starRefreshGate(s: SparkSession, dir: String): DataFrame = {
    val mvV1 = graft.Scratch.root(s, "starref_mv1", dir)
    val mvV2 = graft.Scratch.root(s, "starref_mv2", dir)
    def fold(df: DataFrame): DataFrame =
      df.join(t(s, dir, "supplier"), df("l_suppkey") === col("s_suppkey"), "left")
        .groupBy(col("s_nationkey"))
        .agg(sum(mvPriceCents).as("sum_price_c"), count(lit(1)).as("cnt"))
    val factDir = graft.Scratch.once(s, "starref_fact", dir) { factDir =>
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      Seq(factDir, mvV1, mvV2).foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"))
      // day 0: the initial fact slice lands; its star summary publishes
      li.filter(col("l_orderkey") % 9 =!= 0).write.parquet(factDir)
      fold(s.read.parquet(factDir)).write.parquet(mvV1)
      val defn1 = fold(s.read.parquet(factDir))
      graft.plans.MaterializedViewRewrite.registerStar(s, defn1, mvV1)
      // day 1: a late batch APPENDS to the fact path — the v1
      // registration is now stale (its fingerprint no longer matches)
      // and the rewrite stands down until the refresh below
      val delta = li.filter(col("l_orderkey") % 9 === 0)
      delta.write.mode("append").parquet(factDir)
      // incremental refresh: committed summary + delta fold, merged —
      // the delta joins the dim; the v1 base rows are never re-read
      val refreshed = s.read.parquet(mvV1)
        .unionByName(fold(delta))
        .groupBy(col("s_nationkey"))
        .agg(sum(col("sum_price_c")).as("sum_price_c"), sum(col("cnt")).as("cnt"))
      refreshed.write.parquet(mvV2)
      // re-register: the definition is the canonical full-fact star
      // (over the GROWN listing); the data under mvV2 was produced
      // incrementally — if the merge were wrong, the rewritten query
      // below would answer wrong values and the oracle hash fails
      graft.plans.MaterializedViewRewrite.registerStar(s, fold(s.read.parquet(factDir)), mvV2)
    }
    GraftRules.install(s, graft.plans.MaterializedViewRewrite)
    fold(s.read.parquet(factDir))
      .select(coalesce(col("s_nationkey"), lit(-1L)).as("nation_key"),
        col("sum_price_c"), col("cnt").as("n_lines"))
      .orderBy(col("nation_key").asc_nulls_first)
  }

  private val starRefreshGateSql =
    """SELECT COALESCE(s_nationkey, -1) AS nation_key,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines
      |FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY COALESCE(s_nationkey, -1)
      |ORDER BY nation_key NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- inc4
  /** Delete-aware incremental view maintenance — the RETRACTION half of
    * the delta rule (opt6/inc3 are append-only): for a delete set Δ⁻,
    * the refreshed summary is old ⊎ (−fold(Δ⁻)) — SUM and COUNT are
    * groups under negation, so the refresh folds ONLY the deleted rows,
    * negates the partials, merges with the committed few-row summary,
    * and drops groups whose count reaches zero (a fully-retracted group
    * must VANISH, not linger as a zero row). MIN/MAX are deliberately
    * absent: they are not retractable from a summary (the deleted row
    * may have been the extremum) — the append-only entries (opt6) carry
    * them, this one documents the boundary by refusing to cross it.
    * Published as VersionedTable v2 beside the v1 full summary; the
    * DuckDB oracle aggregates the SURVIVING raw rows, so the hash
    * proves retraction-merge ≡ recompute-after-delete.
    */
  private[graft] def inc4Root(s: SparkSession, dir: String): String =
    graft.Scratch.root(s, "inc4", dir)

  private def deleteIvm(s: SparkSession, dir: String): DataFrame = {
    import graft.sinks.VersionedTable
    def fold(df: DataFrame, sign: Int): DataFrame =
      df.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg((sum(mvQtyCents) * sign).as("sum_qty_c"),
          (count(lit(1)) * sign).as("cnt"))
    val root = graft.Scratch.once(s, "inc4", dir) { root =>
      VersionedTable.drop(s, root)
      val li = t(s, dir, "lineitem")
      VersionedTable.publish(s, root, fold(li, 1)) // v1: the full summary
      // a delete batch retracts the %11 slice: negate its fold, merge
      val refreshed = VersionedTable.read(s, root)
        .unionByName(fold(li.filter(col("l_orderkey") % 11 === 0), -1))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("sum_qty_c")).as("sum_qty_c"), sum(col("cnt")).as("cnt"))
        .filter(col("cnt") > 0) // fully-retracted groups vanish
      VersionedTable.publish(s, root, refreshed) // v2: never re-reads survivors
      ()
    }
    VersionedTable.read(s, root)
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  private val deleteIvmSql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
      |  CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM lineitem WHERE l_orderkey % 11 <> 0
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- inc5
  /** MIN/MAX under delete-aware IVM — crossing the boundary inc4
    * documents, the right way. SUM/COUNT retract algebraically; an
    * extremum does not (the deleted row may have BEEN the min), so the
    * standard maintenance is a TARGETED re-scan: a group needs its
    * extremum recomputed only when a deleted value TIES the committed
    * one. The refresh therefore (a) folds the delete batch per group,
    * (b) flags groups whose deleted min/max equals the committed
    * min/max, (c) re-reads ONLY the surviving rows of flagged groups
    * (a broadcast semi-join prune — at 100 TB this is the difference
    * between re-scanning 9% of groups and re-scanning the table), and
    * (d) merges: unaffected groups keep their committed extrema,
    * affected ones take the recomputed values; sums/counts retract
    * like inc4. Grouping is suppkey%100 over PRICE cents — a
    * continuous value, so the delete slice ties each group's extremum
    * with ~9% probability and the affected set is genuinely PARTIAL
    * (IncMinMaxSpec pins 0 < affected < all, and that some group WITH
    * deletes kept its extremum). The DuckDB oracle aggregates the
    * surviving raw rows: the hash proves retract+targeted-rescan ≡
    * recompute-after-delete.
    */
  /** The refresh algebra, shared with IncMinMaxSpec: returns the
    * refreshed summary plus the LAZY audit frames (affected keys,
    * groups-with-deletes, all groups) the spec counts for its
    * partiality pins — lazy, so the gate path executes none of them.
    */
  private[graft] def minMaxRefresh(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val grp = (expr("l_suppkey % 100")).as("grp")
    def rows(df: DataFrame) = df.select(grp, mvPriceCents.as("price_c"))
    val isDel = col("l_orderkey") % 11 === 0
    val li = t(s, dir, "lineitem")
    def fold(df: DataFrame) = rows(df).groupBy("grp")
      .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("sum_price_c"),
        min(col("price_c")).as("min_price_c"), max(col("price_c")).as("max_price_c"))
    val committed = fold(li) // v1, the pre-delete summary
    val dels = fold(li.filter(isDel)).select(
      col("grp"), col("cnt").as("dcnt"), col("sum_price_c").as("dsum"),
      col("min_price_c").as("dmin"), col("max_price_c").as("dmax"))
    val joined = committed.join(broadcast(dels), Seq("grp"), "left")
      .withColumn("affected",
        col("dmin") <=> col("min_price_c") || col("dmax") <=> col("max_price_c"))
    // targeted re-scan: surviving rows of AFFECTED groups only
    val affectedKeys = joined.filter(col("affected")).select("grp")
    val rescanned = rows(li.filter(!isDel))
      .join(broadcast(affectedKeys), Seq("grp"), "left_semi")
      .groupBy("grp")
      .agg(min(col("price_c")).as("rmin"), max(col("price_c")).as("rmax"))
    val refreshed = joined
      .select(col("grp"),
        (col("cnt") - coalesce(col("dcnt"), lit(0L))).as("cnt"),
        (col("sum_price_c") - coalesce(col("dsum"), lit(0L))).as("sum_price_c"),
        col("min_price_c"), col("max_price_c"), col("affected"))
      .filter(col("cnt") > 0) // fully-retracted groups vanish
      .join(broadcast(rescanned), Seq("grp"), "left")
      .select(col("grp"), col("cnt"), col("sum_price_c"),
        when(col("affected"), col("rmin")).otherwise(col("min_price_c"))
          .as("min_price_c"),
        when(col("affected"), col("rmax")).otherwise(col("max_price_c"))
          .as("max_price_c"))
    (refreshed, affectedKeys, dels, committed)
  }

  private def minMaxIvm(s: SparkSession, dir: String): DataFrame = {
    import graft.sinks.VersionedTable
    val root = graft.Scratch.once(s, "inc5", dir) { root =>
      VersionedTable.drop(s, root)
      val (refreshed, _, _, _) = minMaxRefresh(s, dir) // audit frames stay lazy here
      VersionedTable.publish(s, root, refreshed)
      ()
    }
    VersionedTable.read(s, root)
      .orderBy(col("grp").asc_nulls_first)
  }

  private val minMaxIvmSql =
    """SELECT l_suppkey % 100 AS grp,
      |  CAST(COUNT(*) AS BIGINT) AS cnt,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
      |  CAST(MIN(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS min_price_c,
      |  CAST(MAX(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS max_price_c
      |FROM lineitem WHERE l_orderkey % 11 <> 0
      |GROUP BY l_suppkey % 100
      |ORDER BY grp NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- inc3
  /** Incremental view maintenance for a JOIN — the delta-rule twin of
    * opt6's aggregate maintenance: for appends ΔR, ΔS to R₀⋈S₀, the
    * refreshed view is old ∪ (ΔR⋈S₀) ∪ (R₀⋈ΔS) ∪ (ΔR⋈ΔS) — inner join
    * distributes over union, so the refresh touches each delta against
    * the OTHER side and never recomputes base⋈base. Published through
    * [[graft.sinks.VersionedTable]] (v1 = the pre-delta join, v2 = the
    * refreshed view, both retained so MvRewriteSpec-style pins can
    * prove v1 really was partial); the DuckDB oracle aggregates the
    * full raw join, so the hash proves delta-rule ≡ full recompute.
    *
    * Scale posture: a nightly full join of two 100 TB-class tables
    * re-shuffles both; the delta rule shuffles |Δ| rows against each
    * base (and Δ⋈Δ), with the base sides ideally bucket-pruned — the
    * standard IVM shape (materialized join views in every warehouse
    * that has them). At gate scale the "batches" are residue filters
    * over one parquet; the algebra is the artifact under test.
    */
  private[graft] def ivmRoot(s: SparkSession, dir: String): String =
    graft.Scratch.root(s, "inc3", dir)

  private def joinIvm(s: SparkSession, dir: String): DataFrame = {
    import graft.sinks.VersionedTable
    val root = graft.Scratch.once(s, "inc3", dir) { root =>
      VersionedTable.drop(s, root)
      def li(p: Column => Column) = t(s, dir, "lineitem").filter(p(col("l_orderkey")))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          mvQtyCents.as("qty_c"))
      def or(p: Column => Column) = t(s, dir, "orders").filter(p(col("o_orderkey")))
        .select(col("o_orderkey"), col("o_orderstatus"))
      def j(l: DataFrame, r: DataFrame) =
        l.join(r, col("l_orderkey") === col("o_orderkey"), "inner")
      val r0 = li(k => k % 5 =!= 0); val dR = li(k => k % 5 === 0)
      val s0 = or(k => k % 7 =!= 0); val dS = or(k => k % 7 === 0)
      VersionedTable.publish(s, root, j(r0, s0)) // v1: the pre-delta view
      val refreshed = VersionedTable.read(s, root)
        .unionByName(j(dR, s0)) // ΔR ⋈ S₀
        .unionByName(j(r0, dS)) // R₀ ⋈ ΔS
        .unionByName(j(dR, dS)) // ΔR ⋈ ΔS
      VersionedTable.publish(s, root, refreshed) // v2: never base⋈base
      ()
    }
    VersionedTable.read(s, root)
      .groupBy(col("o_orderstatus"), col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), sum(col("qty_c")).as("sum_qty_c"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("l_returnflag").asc_nulls_first)
  }

  private val joinIvmSql =
    """SELECT o_orderstatus, l_returnflag,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus, l_returnflag
      |ORDER BY o_orderstatus NULLS FIRST, l_returnflag NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- cmp2
  /** Version DIFF over the committed history — the "what changed between
    * yesterday's table and today's" primitive every lakehouse exposes
    * (Delta CDF / Iceberg changelog), stated over [[mvRefreshGate]]'s
    * two retained versions via the new time-travel read
    * ([[graft.sinks.VersionedTable.readVersion]]): FULL OUTER JOIN on
    * the grain keys, per-row change_type (added / removed / changed /
    * unchanged) plus the measure deltas. Append-only history means
    * 'removed' is impossible here — the CASE arm exists because the
    * operator is generic, and the hash proves it never fires.
    *
    * Scale posture: a keyed diff of two summaries is a join on the MV
    * grain (few rows); diffing two FACT versions at 100 TB is the same
    * plan with a shuffle join on the table key — no full-history scan,
    * only the two compared snapshots. Nullable-int trap: absent-side
    * counts are coalesced to −1 on BOTH engines (the checker is
    * dtype-strict; a null BIGINT reaches pandas as float64).
    */
  private def versionDiff(s: SparkSession, dir: String): DataFrame = {
    import graft.sinks.VersionedTable
    mvRefreshGate(s, dir) // memoized build: publishes v1 + v2 if absent
    val root = mvRefreshRoot(s, dir)
    val v1 = VersionedTable.readVersion(s, root, 1L)
      .select(col("l_returnflag"), col("l_linestatus"),
        col("sum_qty_c").as("old_qty_c"), col("cnt").as("old_cnt"))
    val v2 = VersionedTable.readVersion(s, root, 2L)
      .select(col("l_returnflag"), col("l_linestatus"),
        col("sum_qty_c").as("new_qty_c"), col("cnt").as("new_cnt"))
    v1.join(v2, Seq("l_returnflag", "l_linestatus"), "full_outer")
      .select(
        col("l_returnflag"), col("l_linestatus"),
        when(col("old_cnt").isNull, lit("added"))
          .when(col("new_cnt").isNull, lit("removed"))
          .when(col("old_qty_c") === col("new_qty_c") && col("old_cnt") === col("new_cnt"),
            lit("unchanged"))
          .otherwise(lit("changed")).as("change_type"),
        coalesce(col("old_cnt"), lit(-1L)).as("old_cnt"),
        coalesce(col("new_cnt"), lit(-1L)).as("new_cnt"),
        (coalesce(col("new_qty_c"), lit(0L)) - coalesce(col("old_qty_c"), lit(0L)))
          .as("qty_delta_c"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  private val versionDiffSql =
    """WITH v1 AS (
      |  SELECT l_returnflag, l_linestatus,
      |    CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS old_qty_c,
      |    CAST(COUNT(*) AS BIGINT) AS old_cnt
      |  FROM lineitem WHERE l_orderkey % 7 <> 0
      |  GROUP BY l_returnflag, l_linestatus),
      |v2 AS (
      |  SELECT l_returnflag, l_linestatus,
      |    CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS new_qty_c,
      |    CAST(COUNT(*) AS BIGINT) AS new_cnt
      |  FROM lineitem
      |  GROUP BY l_returnflag, l_linestatus)
      |SELECT
      |  COALESCE(v1.l_returnflag, v2.l_returnflag) AS l_returnflag,
      |  COALESCE(v1.l_linestatus, v2.l_linestatus) AS l_linestatus,
      |  CASE WHEN v1.old_cnt IS NULL THEN 'added'
      |       WHEN v2.new_cnt IS NULL THEN 'removed'
      |       WHEN v1.old_qty_c = v2.new_qty_c AND v1.old_cnt = v2.new_cnt THEN 'unchanged'
      |       ELSE 'changed' END AS change_type,
      |  COALESCE(v1.old_cnt, -1) AS old_cnt,
      |  COALESCE(v2.new_cnt, -1) AS new_cnt,
      |  COALESCE(v2.new_qty_c, 0) - COALESCE(v1.old_qty_c, 0) AS qty_delta_c
      |FROM v1 FULL OUTER JOIN v2
      |  ON v1.l_returnflag = v2.l_returnflag AND v1.l_linestatus = v2.l_linestatus
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  private val mvRefreshGateSql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
      |  CAST(COUNT(*) AS BIGINT) AS cnt,
      |  MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- zo1
  /** Z-order layout audit — the data-layout leg beside bkt1's
    * bucketing: interleave the bits of the two dominant filter keys
    * (part, supplier) into a Morton code, range-bucket the code, and
    * report each bucket's per-dimension key spans. This is the health
    * table behind OPTIMIZE ZORDER-style clustering: a file written per
    * z-range covers a NARROW rectangle in (part × supplier) space, so
    * min/max file statistics prune scans on EITHER key — the reason
    * multi-dimensional layouts beat single-key sort at 100 TB, made
    * measurable (tight spans ⇒ effective pruning; a span that covers
    * the whole key domain ⇒ that dimension's filters hit every file).
    *
    * The 16-bit interleave is generated once and spelled per engine
    * (Spark shiftleft/shiftright functions, DuckDB native shift
    * operators — same arithmetic, operator syntax only); keys mask to
    * 16 bits by construction, stated rather than assumed. One narrow
    * scan + one hash aggregate on the bucket key; the audit never
    * sorts or shuffles the fact rows themselves.
    */
  private val ZBits = 16

  private def zInterleaveSpark: String =
    (0 until ZBits).map(i =>
      s"(shiftleft((shiftright(pk, $i) & 1), ${2 * i})" +
        s" | shiftleft((shiftright(sk, $i) & 1), ${2 * i + 1}))")
      .mkString(" | ")

  private def zInterleaveDuck: String =
    (0 until ZBits).map(i =>
      s"((((pk >> $i) & 1) << ${2 * i}) | (((sk >> $i) & 1) << ${2 * i + 1}))")
      .mkString(" | ")

  private def zorderAudit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select((col("l_partkey") % 65536).as("pk"), (col("l_suppkey") % 65536).as("sk"))
      .withColumn("z", expr(zInterleaveSpark))
      .withColumn("zbucket", expr("shiftright(z, 16)"))
      .groupBy("zbucket")
      .agg(count(lit(1)).as("n_rows"),
        min("pk").as("min_pk"), max("pk").as("max_pk"),
        min("sk").as("min_sk"), max("sk").as("max_sk"))
      .select(col("zbucket"), col("n_rows"),
        col("min_pk"), col("max_pk"), col("min_sk"), col("max_sk"),
        (col("max_pk") - col("min_pk") + 1).as("pk_span"),
        (col("max_sk") - col("min_sk") + 1).as("sk_span"))
      .orderBy(col("zbucket").asc_nulls_first)

  private def zorderAuditSql =
    s"""WITH keys AS (
       |  SELECT l_partkey % 65536 AS pk, l_suppkey % 65536 AS sk FROM lineitem),
       |coded AS (SELECT pk, sk, ($zInterleaveDuck) AS z FROM keys),
       |agg AS (
       |  SELECT z >> 16 AS zbucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    MIN(pk) AS min_pk, MAX(pk) AS max_pk,
       |    MIN(sk) AS min_sk, MAX(sk) AS max_sk
       |  FROM coded GROUP BY 1)
       |SELECT zbucket, n_rows, min_pk, max_pk, min_sk, max_sk,
       |  max_pk - min_pk + 1 AS pk_span, max_sk - min_sk + 1 AS sk_span
       |FROM agg ORDER BY zbucket NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- ev11
  /** The SAME peak-concurrency census as ev9, spelled as the
    * HIERARCHICAL two-level prefix sum ev9's scaladoc names as the
    * unbounded-domain alternative (the w5 technique applied to the
    * sweep-line): within-hour-chunk running delta sums in parallel, the
    * per-chunk delta totals rolled into exclusive carry-in offsets by a
    * window over the tiny (type × chunk) frame, offsets broadcast back,
    * live = carry-in + local. The chunk key (t DIV 3600) is a monotone
    * function of the sweep order's leading key, so cross-chunk order is
    * preserved by construction; ties (same t) land in the same chunk and
    * resolve under the same (delta, event_id) tiebreak. Oracle: ev9's
    * serial sweep SQL verbatim — the gate hash-proves the two spellings
    * equal.
    */
  private def concurrencyChunked(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withinChunk = Window.partitionBy("event_type", "chunk")
      .orderBy(col("t").asc_nulls_first, col("delta").asc_nulls_first,
        col("event_id").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val overChunks = Window.partitionBy("event_type")
      .orderBy(col("chunk").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, -1)
    val deltas = concurrencyDeltas(s, dir)
      .withColumn("chunk", expr("t DIV 3600"))
      .persist(StorageLevel.MEMORY_AND_DISK) // local-sum side + offsets side
    val offsets = deltas
      .groupBy("event_type", "chunk")
      .agg(sum(col("delta")).as("chunk_total"))
      .withColumn("carry", coalesce(sum(col("chunk_total")).over(overChunks), lit(0L)))
      .select(col("event_type").as("o_type"), col("chunk").as("o_chunk"), col("carry"))
    deltas
      .withColumn("local", sum(col("delta")).over(withinChunk))
      // null-SAFE join: the serial sweep (and the shared oracle) keeps a
      // null event_type as its own window partition, so the offset
      // attach must not drop null keys the way a plain equi-join would
      .join(broadcast(offsets),
        col("event_type") <=> col("o_type") && col("chunk") <=> col("o_chunk"))
      .groupBy("event_type")
      .agg(max(col("carry") + col("local")).as("peak_concurrency"),
        expr("count(1) DIV 2").as("n_intervals"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  // ---------------------------------------------------------------- w4
  /** Running DISTINCT user count per event type — the cumulative-reach
    * curve. SQL has no windowed COUNT(DISTINCT); the scalable spelling
    * is first-occurrence flags (row_number over (type, user) = 1) summed
    * by a running window — two shuffles, no per-row distinct state. The
    * row_number here is a projected VALUE, not a `= 1` filter, so the
    * RowNumberDedupRewrite rule correctly leaves it alone (its guards
    * are pinned in OptimizerRuleSpec).
    */
  private def runningDistinct(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = Window.partitionBy("event_type", "user_id")
      .orderBy(col("ts").asc_nulls_first, col("event_id").asc_nulls_first)
    val running = Window.partitionBy("event_type")
      .orderBy(col("ts").asc_nulls_first, col("event_id").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("ts"), col("user_id"))
      .withColumn("first_seen",
        when(row_number().over(perUser) === 1, 1L).otherwise(0L))
      .withColumn("users_so_far", sum(col("first_seen")).over(running))
      .filter(col("event_id") % 20 === 0)
      .select(col("event_id"), col("event_type"), col("ts"), col("users_so_far"))
      .orderBy(col("event_type").asc_nulls_first, col("ts").asc_nulls_first,
        col("event_id").asc_nulls_first)
  }

  private val runningDistinctSql =
    """WITH flagged AS (
      |  SELECT event_id, event_type, ts,
      |    CASE WHEN row_number() OVER (PARTITION BY event_type, user_id
      |           ORDER BY ts NULLS FIRST, event_id NULLS FIRST) = 1
      |         THEN 1 ELSE 0 END AS first_seen
      |  FROM events),
      |running AS (
      |  SELECT event_id, event_type, ts,
      |    SUM(first_seen) OVER (PARTITION BY event_type
      |      ORDER BY ts NULLS FIRST, event_id NULLS FIRST
      |      ROWS UNBOUNDED PRECEDING) AS users_so_far
      |  FROM flagged)
      |SELECT event_id, event_type, ts, CAST(users_so_far AS BIGINT) AS users_so_far
      |FROM running WHERE event_id % 20 = 0
      |ORDER BY event_type NULLS FIRST, ts NULLS FIRST, event_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- w5
  /** The SAME cumulative-reach curve as w4, spelled as a HIERARCHICAL
    * PREFIX SUM — the unbounded-partition alternative w4's scaladoc
    * names. w4's running window funnels every event of one type through
    * ONE task (fine for bounded type domains; a single type with 10^10
    * events would serialize). Here the running sum is three bounded
    * steps instead:
    *   1. within-CHUNK running sums (chunk = hour of ts) — windows
    *      partitioned by (type, chunk), parallel across chunks;
    *   2. per-chunk totals aggregated and turned into running chunk
    *      OFFSETS by a window over the tiny (type × chunk) frame;
    *   3. offsets broadcast-joined back: users_so_far = offset + local.
    * No task ever sees more than one chunk of one type; the only serial
    * window runs over chunk TOTALS (hours × types — thousands of rows at
    * any corpus size, sized by time span, not data volume). The chunk
    * key is a prefix of the running order (ts asc, event_id asc), so
    * cross-chunk order is preserved by construction. Oracle: the SAME
    * serial running-window SQL as w4 — the gate hash-proves the
    * hierarchical spelling equals the serial one.
    */
  private def runningDistinctChunked(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = Window.partitionBy("event_type", "user_id")
      .orderBy(col("ts").asc_nulls_first, col("event_id").asc_nulls_first)
    val withinChunk = Window.partitionBy("event_type", "chunk")
      .orderBy(col("ts").asc_nulls_first, col("event_id").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val overChunks = Window.partitionBy("event_type")
      .orderBy(col("chunk").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, -1)
    val flagged = t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("ts"), col("user_id"))
      .withColumn("first_seen",
        when(row_number().over(perUser) === 1, 1L).otherwise(0L))
      .withColumn("chunk", expr("unix_micros(ts) DIV 3600000000"))
      .persist(StorageLevel.MEMORY_AND_DISK) // local-sum side + offsets side
    val offsets = flagged
      .groupBy("event_type", "chunk")
      .agg(sum(col("first_seen")).as("chunk_total"))
      .withColumn("offset", coalesce(sum(col("chunk_total")).over(overChunks), lit(0L)))
      .select(col("event_type").as("o_type"), col("chunk").as("o_chunk"), col("offset"))
    flagged
      .withColumn("local_sum", sum(col("first_seen")).over(withinChunk))
      // null-SAFE join — same reasoning as ev11: the serial window keeps
      // null keys as their own partition, the offset attach must too
      .join(broadcast(offsets),
        col("event_type") <=> col("o_type") && col("chunk") <=> col("o_chunk"))
      .withColumn("users_so_far", col("offset") + col("local_sum"))
      .filter(col("event_id") % 20 === 0)
      .select(col("event_id"), col("event_type"), col("ts"), col("users_so_far"))
      .orderBy(col("event_type").asc_nulls_first, col("ts").asc_nulls_first,
        col("event_id").asc_nulls_first)
  }

  // ---------------------------------------------------------------- imp1
  /** Group-median null imputation — the standard curation fill for
    * missing numerics, as ONE aggregate pass: per group, count the
    * nulls, take the exact interpolated median of the non-nulls (both
    * engines ignore nulls in percentile/quantile_cont; integer inputs →
    * the interpolation is bit-stable, the q10 argument), and state the
    * imputed sum arithmetically as sum + n_null·floor(median) — no
    * second pass over the data, no join back. Nulls are the C7-style
    * planted ones (quantity < 5 → null).
    */
  // ---------------------------------------------------------------- imp2
  /** Forward-fill imputation (LOCF — last observation carried forward):
    * the sensor/time-series gap filler beside imp1's statistical
    * imputation. Nulls are PLANTED deterministically (every third
    * event_id) so the fill is non-vacuous and both engines state the
    * same input; each user's timeline then carries the last non-null
    * value forward under a pinned (ts, event_id) total order. Leading
    * nulls (no prior observation) stay null by LOCF definition — the
    * oracle states the same contract, so the hash proves both the fill
    * and the leading-null behavior. The filled value is carried RAW (no
    * arithmetic), so doubles are bit-identical cross-engine.
    *
    * Scale posture: one window partitioned by the unbounded user key —
    * the same shape as ev3/w4; running `last(_, ignoreNulls)` is O(1)
    * state per row, and the shuffle is the single per-user exchange.
    */
  private def forwardFill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc_nulls_first, col("event_id").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_id") % 3 === 0, lit(null)).otherwise(col("value")).as("v"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("v").isNull.as("was_gap"),
        last(col("v"), ignoreNulls = true).over(w).as("value_filled"))
      .orderBy(col("event_id").asc_nulls_first)
  }

  private val forwardFillSql =
    """SELECT event_id, user_id, ts, v IS NULL AS was_gap,
      |  last_value(v IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
      |FROM (SELECT event_id, user_id, ts,
      |        CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v
      |      FROM events)
      |ORDER BY event_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- ev23
  /** Last-touch attribution — the marketing-analytics consumer of the
    * as-of operator ([[graft.operators.AsOfJoin]], aj1's union+window
    * plan reused in a product context): each purchase is attributed to
    * its user's LATEST view/click at or before the purchase (ties to
    * the largest touch id — the operator's contract), then rolled into
    * a per-channel census with total attribution delay. Purchases with
    * no prior touch surface as 'none', not dropped — unattributed spend
    * is the number the report exists for. One as-of shuffle + one tiny
    * census aggregate; the oracle states the attribution as aj1's
    * correlated argmax.
    */
  private def lastTouchAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id").as("t_user"), col("ts").as("t_ts"),
        col("event_id").as("touch_id"), col("event_type").as("touch_type"))
    graft.operators.AsOfJoin.leftAsOf(
      purchases, touches,
      leftKey = "user_id", rightKey = "t_user",
      leftTs = "ts", rightTs = "t_ts",
      tieBreak = "touch_id",
      payload = Seq("touch_id", "touch_type", "t_ts"))
      .groupBy(coalesce(col("asof_touch_type"), lit("none")).as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        coalesce(sum(expr("(unix_micros(ts) - unix_micros(asof_t_ts)) DIV 1000000")),
          lit(0L)).as("sum_delay_s"))
      .orderBy(col("touch_type").asc_nulls_first)
  }

  private val lastTouchAttributionSql =
    """WITH p AS (
      |  SELECT event_id AS purchase_id, user_id, ts FROM events
      |  WHERE event_type = 'purchase'),
      |picked AS (
      |  SELECT p.purchase_id, p.ts,
      |    (SELECT t.event_id FROM events t
      |     WHERE t.user_id = p.user_id AND t.event_type IN ('view', 'click')
      |       AND t.ts <= p.ts
      |     ORDER BY t.ts DESC, t.event_id DESC LIMIT 1) AS touch_id
      |  FROM p)
      |SELECT COALESCE(t.event_type, 'none') AS touch_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
      |  COALESCE(CAST(SUM((epoch_us(pk.ts) - epoch_us(t.ts)) // 1000000) AS BIGINT), 0)
      |    AS sum_delay_s
      |FROM picked pk LEFT JOIN events t ON pk.touch_id = t.event_id
      |GROUP BY touch_type
      |ORDER BY touch_type NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- ev22
  /** DAU / WAU / stickiness — the product-health census: per day,
    * distinct active users, trailing-7-day distinct active users, and
    * DAU·10⁶ DIV WAU. The rolling DISTINCT is the classic windowed-
    * COUNT(DISTINCT) trap (w4's lesson: no per-row distinct state);
    * here it's spelled as COVERAGE REPLICATION — each (user, day) of
    * the user-day-grain frame covers report days d..d+6 via one
    * 7-element explode, and WAU is a plain distinct count per report
    * day. The corpus collapses to user-day grain FIRST (the only
    * corpus-sized exchange); the 7× replication happens on that
    * already-reduced frame, the standard scale spelling.
    */
  // --------------------------------------------------------------- ev24
  /** Per-group distinct-user census via the KMV sketch — the sketch's
    * REAL scale shape (dq9/dq11 use it grouping-free): distinct users
    * per (event_type, day). The exact spelling `GROUP BY type, day,
    * COUNT(DISTINCT user)` ships one row per (group, user) through the
    * exchange — at 100 TB that is the whole user×group cross section;
    * the sketch ships ≤ 2k longs per (group × partition) no matter how
    * many events stream through, merged associatively map-side. The
    * gate is hash-EXACT, not bounded: per-group user cardinality sits
    * far below k = 8192 at every test scale (150 at sf0.01, 1 500 at
    * sf0.1, domain-capped by the generator), and below k the kept set
    * IS the distinct hash set, so the sketch value equals
    * COUNT(DISTINCT) exactly and the oracle states that. Past k the
    * same plan degrades to a 1.1%-sigma estimate instead of an
    * exchange explosion — that trade is the point.
    */
  private def dauSketch(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(
        graft.functions.NdvSketch.ndvSketch(col("user_id")).as("distinct_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type").asc_nulls_first, col("day").asc_nulls_first)

  private val dauSketchSql =
    """SELECT event_type, CAST(ts AS DATE) AS day,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users,
      |  CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM events
      |GROUP BY event_type, day
      |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- ev25
  /** Audience overlap between event types via θ-sketch SET ALGEBRA —
    * the classic sketch win that per-group NDV (ev24) can't deliver:
    * |users(A) ∩ users(B)| and |users(A) ∪ users(B)| for every type
    * pair. The exact spelling self-joins the (type, user) frame — a
    * user-grain × user-grain exchange that explodes at 100 TB; the
    * sketch spelling reduces the corpus to FIVE bounded kept-hash sets
    * (one ObjectHashAggregate, ≤ 2k longs each), broadcast-joins the
    * 5-row frame to itself, and answers every pair with array
    * intersections on the driver-free plan. Below k the kept sets are
    * the COMPLETE distinct hash sets (`exact` flag in [[graft.functions
    * .KmvSet]]), so the gate is hash-EXACT; past k the same plan
    * degrades to the standard θ-sketch estimate (intersect/union below
    * min(θ), scale by the θ fraction — see [[sketchPairAlgebra]])
    * instead of an exchange explosion.
    */
  private def audienceOverlap(s: SparkSession, dir: String): DataFrame = {
    // ENGAGED audience: ≥ 14 events of the type — every user touches
    // every type in the synthetic corpus (mean ~13.4 events per
    // (type, user) at every sf), so raw audiences are all-users and the
    // overlap table degenerates; the engagement gate makes each
    // audience a proper subset with real pairwise structure. The gate
    // rides the (type, user) rollup the census needs anyway — one hash
    // aggregate before the sketch sees a row.
    val engaged = t(s, dir, "events")
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 14)
    val sets = engaged
      .groupBy("event_type")
      .agg(graft.functions.NdvSketch.ndvSketchSet(col("user_id")).as("sk"))
    sketchPairAlgebra(sets)
      .orderBy(col("type_a").asc_nulls_first, col("type_b").asc_nulls_first)
  }

  /** θ-sketch pair algebra over a (event_type, sk: [[graft.functions
    * .KmvSet]]) frame: |A ∩ B| and |A ∪ B| for every type pair. Exact
    * regime (both kept sets complete): plain array set ops. Estimator
    * regime: BOTH counts come from the same θ-sketch — distinct kept
    * hashes of the intersection/union below min(θ), scaled by the θ
    * fraction of the unsigned hash space. The union must NOT be derived
    * by inclusion–exclusion on `KmvSet.n` past k: `n` is the KEPT count
    * (capped at k once a sketch trims) while the overlap is a θ-scaled
    * estimate of the TRUE intersection — mixed scales that bound the
    * "union" by ~2k and can push it negative (the r10 latent defect).
    * θ is stored SIGN-FLIPPED, so `least`/`x < thmin` realize unsigned
    * order under signed comparison; the fraction unflips and must use
    * shiftrightUNSIGNED — for NDV between k and ~2k the k-th minimum
    * hash has its top bit set and an arithmetic shift sign-extends into
    * a negative fraction. Package-visible because the above-k regime is
    * exercised OUTSIDE ev25 (whose gate audiences sit below the default
    * k): dq13's set rows run this algebra at k = 256 over orderkey sets
    * with NDV ≫ k (engaged flag + 30% bound in-gate), dq14 runs ev25's
    * own audience-overlap shape at k = 64 so every per-type sketch
    * provably trims, and NdvSketchSpec pins the branch unit-level.
    */
  private[graft] def sketchPairAlgebra(sets: DataFrame): DataFrame = {
    val unflip = "(thmin ^ -9223372036854775808)"
    sets.as("a").join(broadcast(sets.as("b")),
        col("a.event_type") < col("b.event_type"))
      .select(
        col("a.event_type").as("type_a"), col("b.event_type").as("type_b"),
        col("a.sk").as("sa"), col("b.sk").as("sb"))
      .withColumn("thmin", least(col("sa.theta"), col("sb.theta")))
      .withColumn("frac", expr(
        s"(CAST(shiftrightunsigned($unflip, 1) AS DOUBLE) * 2.0 + ($unflip & 1)) / pow(2.0, 64)"))
      .withColumn("overlap_users",
        when(col("sa.exact") && col("sb.exact"),
          size(array_intersect(col("sa.hashes"), col("sb.hashes"))).cast(LongType))
          .otherwise(expr(
            """CAST(round(
              |  size(filter(array_intersect(sa.hashes, sb.hashes), x -> x < thmin)) / frac
              |) AS BIGINT)""".stripMargin)))
      .withColumn("union_users",
        when(col("sa.exact") && col("sb.exact"),
          col("sa.n") + col("sb.n") - col("overlap_users"))
          .otherwise(expr(
            """CAST(round(
              |  size(filter(array_union(sa.hashes, sb.hashes), x -> x < thmin)) / frac
              |) AS BIGINT)""".stripMargin)))
      .select(col("type_a"), col("type_b"), col("overlap_users"), col("union_users"))
  }

  private val audienceOverlapSql =
    """WITH u AS (
      |  SELECT event_type, user_id FROM events
      |  GROUP BY event_type, user_id HAVING COUNT(*) >= 14),
      |c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM u GROUP BY event_type),
      |pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b
      |  FROM c a JOIN c b ON a.event_type < b.event_type),
      |ov AS (
      |  SELECT x.event_type AS type_a, y.event_type AS type_b,
      |    CAST(COUNT(*) AS BIGINT) AS overlap_users
      |  FROM u x JOIN u y
      |    ON x.user_id = y.user_id AND x.event_type < y.event_type
      |  GROUP BY type_a, type_b)
      |SELECT p.type_a, p.type_b,
      |  COALESCE(o.overlap_users, 0) AS overlap_users,
      |  ca.n + cb.n - COALESCE(o.overlap_users, 0) AS union_users
      |FROM pairs p
      |LEFT JOIN ov o ON o.type_a = p.type_a AND o.type_b = p.type_b
      |JOIN c ca ON ca.event_type = p.type_a
      |JOIN c cb ON cb.event_type = p.type_b
      |ORDER BY p.type_a NULLS FIRST, p.type_b NULLS FIRST""".stripMargin

  private def stickiness(s: SparkSession, dir: String): DataFrame = {
    val ud = t(s, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(explode(sequence(lit(0), lit(6))).as("i"), col("day"), col("user_id"))
      .select(date_add(col("day"), col("i")).as("day"), col("user_id"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        expr("(dau * 1000000) DIV wau").as("stickiness_ppm"))
      .orderBy(col("day").asc_nulls_first)
  }

  private val stickinessSql =
    """WITH ud AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day),
      |cov AS (
      |  SELECT DISTINCT day + CAST(i AS INTEGER) AS day, user_id
      |  FROM ud, (SELECT unnest(range(0, 7)) AS i) off),
      |wau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS wau FROM cov GROUP BY day)
      |SELECT d.day, dau, wau, (dau * 1000000) // wau AS stickiness_ppm
      |FROM dau d JOIN wau w ON d.day = w.day
      |ORDER BY d.day NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- ev26
  /** Periodicity detection via lagged products — the autocorrelation
    * instrument beside ev19's calendar profile: ev19 ASSUMES the cycle
    * length (weekday buckets); this measures whether one exists. Per
    * event type, the dense hourly count series x_t (zero-filled over
    * the observed hour range — gaps are data, not absent rows) scores
    * r(lag) = 1000·Σ xₜ·xₜ₊ₗₐ₉ DIV Σ xₜ² at lag 1 and lag 24; a
    * daily-cycled series scores r(24) ≈ r(0) ≫ r(1), a flat one scores
    * both near (n−lag)/n. All-integer (products of counts), so both
    * engines agree bit-for-bit; the synthetic corpus is honestly
    * aperiodic (flags false — NewShapePinsSpec plants a cycled series to
    * pin the positive branch).
    *
    * Scale posture: the event grain collapses to (type, hour) in ONE
    * hash aggregate; everything after — the dense-grid fill, both lags
    * as window LEADS (one pass; a self-join per lag would re-run the
    * event aggregate per lag), the rollup — runs on the ~720·|types|
    * series grain. The grid is a broadcast range join, never
    * event-sized.
    */
  private def autocorrelation(s: SparkSession, dir: String): DataFrame =
    autocorrelationOf(
      t(s, dir, "events").filter(col("ts").isNotNull)
        .select(col("event_type"),
          expr("unix_micros(ts) DIV 3600000000").as("h")))

  /** The series core over (event_type, h) rows — package-visible so
    * the spec can plant a periodic series (the gate corpus is flat).
    */
  private[graft] def autocorrelationOf(rows: DataFrame): DataFrame = {
    val counts = rows.groupBy("event_type", "h").agg(count(lit(1)).as("x"))
    val range = counts.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val types = counts.select("event_type").distinct()
    val grid = types
      .crossJoin(broadcast(range))
      .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("h"))
      .join(counts, Seq("event_type", "h"), "left")
      .na.fill(0L, Seq("x"))
    // both lags as window leads over the dense series — ONE pass over
    // the grid (a self-join per lag would re-aggregate the event scan
    // once per lag); a lead past the series end is null, its product
    // null, and SUM skips it — exactly the missing-pair semantics
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("h").asc_nulls_first)
    grid
      .select(col("event_type"), col("x"),
        lead(col("x"), 1).over(w).as("x1"),
        lead(col("x"), 24).over(w).as("x24"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum(col("x") * col("x")).as("s0"),
        sum(col("x") * col("x1")).as("s1"),
        sum(col("x") * col("x24")).as("s24"))
      .select(col("event_type"), col("n_hours"),
        expr("s1 * 1000 DIV s0").as("r1_milli"),
        expr("s24 * 1000 DIV s0").as("r24_milli"),
        expr("s24 * 1000 DIV s0 > s1 * 1000 DIV s0 + 100").as("periodic_24"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  private val autocorrelationSql =
    """WITH rows0 AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS h
      |  FROM events WHERE ts IS NOT NULL),
      |counts AS (SELECT event_type, h, CAST(COUNT(*) AS BIGINT) AS x
      |           FROM rows0 GROUP BY event_type, h),
      |rng AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM counts),
      |grid AS (
      |  SELECT t.event_type, g.h, COALESCE(c.x, 0) AS x
      |  FROM (SELECT DISTINCT event_type FROM counts) t
      |  CROSS JOIN (SELECT unnest(range(h0, h1 + 1)) AS h FROM rng) g
      |  LEFT JOIN counts c ON c.event_type = t.event_type AND c.h = g.h),
      |led AS (
      |  SELECT event_type, x,
      |    lead(x, 1) OVER w AS x1, lead(x, 24) OVER w AS x24
      |  FROM grid WINDOW w AS (PARTITION BY event_type ORDER BY h NULLS FIRST)),
      |base AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
      |           CAST(SUM(x * x) AS BIGINT) AS s0,
      |           CAST(SUM(x * x1) AS BIGINT) AS s1,
      |           CAST(SUM(x * x24) AS BIGINT) AS s24
      |         FROM led GROUP BY event_type)
      |SELECT event_type, n_hours,
      |  CAST(s1 * 1000 // s0 AS BIGINT) AS r1_milli,
      |  CAST(s24 * 1000 // s0 AS BIGINT) AS r24_milli,
      |  s24 * 1000 // s0 > s1 * 1000 // s0 + 100 AS periodic_24
      |FROM base
      |ORDER BY event_type NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- ev20
  /** Inter-arrival time histogram — the traffic-shape census behind
    * session-gap and rate-limit tuning (sw1/ev3 ASSUME a 30-minute gap;
    * this table is how that number gets chosen): per-user consecutive
    * event gaps in seconds, bucketed by binary magnitude. The bucket is
    * `length(bin(gap_s))` = ⌊log2⌋+1 — an INTEGER log2 both engines
    * compute identically via the binary string, where float log2 would
    * be libm-dependent. One per-user window (the ev3 shape) + one hash
    * aggregate on the ≤64-value bucket key.
    */
  private def interarrivalHistogram(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc_nulls_first, col("event_id").asc_nulls_first)
    t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(expr("(unix_micros(ts) - unix_micros(prev)) DIV 1000000").as("gap_s"))
      .groupBy(length(bin(col("gap_s"))).as("bucket"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap_s")).as("min_gap_s"), max(col("gap_s")).as("max_gap_s"))
      .orderBy(col("bucket").asc_nulls_first)
  }

  private val interarrivalHistogramSql =
    """WITH g AS (
      |  SELECT (epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |      PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST))
      |    // 1000000 AS gap_s
      |  FROM events)
      |SELECT length(bin(gap_s)) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |  MIN(gap_s) AS min_gap_s, MAX(gap_s) AS max_gap_s
      |FROM g WHERE gap_s IS NOT NULL
      |GROUP BY bucket
      |ORDER BY bucket NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- dq8
  /** Ingest-gap audit — the "did a feed go dark?" monitor: generate the
    * full hour calendar between the stream's first and last hour from
    * ONE tiny aggregate (`sequence()` over a broadcast 2-value row),
    * anti-join the hours that actually carry 'error' events, and
    * coalesce consecutive missing hours into gap INTERVALS (start, end,
    * length) with the ev14 flag-and-running-sum trick. Output is
    * gap-sized; the only corpus-sized step is the hour-grain distinct,
    * which partial-aggregates map-side. At 100 TB the calendar explode
    * is hours-sized (10 years ≈ 90k rows) — trivially broadcast.
    */
  private def gapAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val present = t(s, dir, "events")
      // the user_id slice keeps the feed sparse enough to actually go
      // dark at every test SF (a denser slice covers all hours at sf0.1
      // and the audit goes vacuous)
      .filter(col("event_type") === "error" && col("user_id") % 5 === 0)
      .select(date_trunc("hour", col("ts")).as("hr")).distinct()
    val bounds = present.agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
    val calendar = bounds
      .select(explode(expr("sequence(lo, hi, INTERVAL 1 HOUR)")).as("hr"))
    val missing = calendar.join(present, Seq("hr"), "left_anti")
    // consecutive missing hours → one interval: new-gap flag when the
    // previous missing hour is not exactly 1h back, running flag sum as
    // the gap id (the missing frame is gap-sized — window is fine)
    val w = Window.orderBy(col("hr").asc_nulls_first)
    missing
      .withColumn("prev", lag(col("hr"), 1).over(w))
      .withColumn("new_gap",
        when(expr("unix_micros(hr) - unix_micros(prev)") === 3600000000L, lit(0L))
          .otherwise(lit(1L))) // null prev (first row) starts a gap
      .withColumn("gap_id", sum(col("new_gap")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("gap_id")
      .agg(min(col("hr")).as("gap_start"), max(col("hr")).as("gap_end"),
        count(lit(1)).as("n_hours"))
      .select(col("gap_start"), col("gap_end"), col("n_hours"))
      .orderBy(col("gap_start").asc_nulls_first)
  }

  private val gapAuditSql =
    """WITH present AS (
      |  SELECT DISTINCT date_trunc('hour', ts) AS hr FROM events
      |  WHERE event_type = 'error' AND user_id % 5 = 0),
      |bounds AS (SELECT MIN(hr) AS lo, MAX(hr) AS hi FROM present),
      |calendar AS (
      |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM bounds),
      |missing AS (
      |  SELECT hr FROM calendar WHERE hr NOT IN (SELECT hr FROM present)),
      |flagged AS (
      |  SELECT hr,
      |    CASE WHEN epoch_us(hr) - lag(epoch_us(hr)) OVER (ORDER BY hr NULLS FIRST)
      |           = 3600000000 THEN 0 ELSE 1 END AS new_gap
      |  FROM missing),
      |gid AS (
      |  SELECT hr, CAST(SUM(new_gap) OVER (ORDER BY hr NULLS FIRST
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS gap_id
      |  FROM flagged)
      |SELECT MIN(hr) AS gap_start, MAX(hr) AS gap_end,
      |  CAST(COUNT(*) AS BIGINT) AS n_hours
      |FROM gid GROUP BY gap_id
      |ORDER BY gap_start NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- ev19
  /** Weekday seasonality profile — the periodicity census behind
    * anomaly baselines (ev8/ev18 flag deviations; this states what
    * "normal for a Tuesday" is): events per ISO weekday with each day's
    * share of the week in floor ppm and its deviation from the uniform
    * 1/7 expectation in SIGNED ppm (the pmod sign-safe floor division,
    * emb6's rule). One day-grain aggregate; everything after runs on 7
    * rows.
    */
  private def weekdayProfile(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "events")
      .groupBy(expr("weekday(ts) + 1").as("iso_dow"))
      .agg(count(lit(1)).as("n_events"))
    val tot = d.agg(sum(col("n_events")).as("total"))
    d.join(broadcast(tot))
      .withColumn("a0", expr("(7 * n_events - total) * 1000000"))
      .withColumn("m0", expr("7 * total"))
      .select(col("iso_dow"), col("n_events"),
        expr("(n_events * 1000000) DIV total").as("share_ppm"),
        expr("CAST((a0 - ((a0 % m0 + m0) % m0)) DIV m0 AS BIGINT)").as("dev_ppm"))
      .orderBy(col("iso_dow").asc_nulls_first)
  }

  private val weekdayProfileSql =
    """WITH d AS (
      |  SELECT isodow(ts) AS iso_dow, CAST(COUNT(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM d)
      |SELECT iso_dow, n_events,
      |  (n_events * 1000000) // total AS share_ppm,
      |  CAST((((7 * n_events - total) * 1000000)
      |    - ((((7 * n_events - total) * 1000000) % (7 * total) + (7 * total))
      |       % (7 * total))) // (7 * total) AS BIGINT) AS dev_ppm
      |FROM d CROSS JOIN tot
      |ORDER BY iso_dow NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- ev17
  /** RFM segmentation census — the classic user-value stratification
    * (recency / frequency / monetary quartile codes). Quartile CODES are
    * assigned by comparing each user's metric against three interpolated
    * quartile boundaries computed once and BROADCAST — never an `ntile`
    * window over the user frame (w7's caveat: a global ntile serializes
    * into one sorted task; threshold-compare assignment is map-side and
    * scale-free). Boundaries are bit-stable cross-engine on integer
    * inputs (the q10 argument); money is integer cents per row. Code 4 =
    * best quartile on every axis (recency inverted: smaller is better).
    */
  private def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val users = t(s, dir, "events")
      .groupBy("user_id")
      .agg(
        max(to_date(col("ts"))).as("last_day"),
        count(lit(1)).as("freq"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("monetary_cents"))
    val corpus = users.agg(max(col("last_day")).as("corpus_day"))
    val r = users.join(broadcast(corpus))
      .withColumn("recency_days",
        datediff(col("corpus_day"), col("last_day")).cast(LongType))
    val fr = array(lit(0.25), lit(0.5), lit(0.75))
    val th = r.agg(
      percentile(col("recency_days"), fr).as("rq"),
      percentile(col("freq"), fr).as("fq"),
      percentile(col("monetary_cents"), fr).as("mq"))
    def code(better: org.apache.spark.sql.Column => org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      lit(1) + Seq(0, 1, 2).map(i => when(better(lit(i)), 1L).otherwise(0L)).reduce(_ + _)
    r.join(broadcast(th))
      .select(
        code(i => col("recency_days") < col("rq")(i)).as("r_code"),
        code(i => col("freq") > col("fq")(i)).as("f_code"),
        code(i => col("monetary_cents") > col("mq")(i)).as("m_code"),
        col("freq"), col("monetary_cents"))
      .groupBy("r_code", "f_code", "m_code")
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("freq")).as("sum_events"),
        sum(col("monetary_cents")).as("sum_monetary_cents"))
      .orderBy(col("r_code").asc_nulls_first, col("f_code").asc_nulls_first,
        col("m_code").asc_nulls_first)
  }

  private val rfmSegmentsSql =
    """WITH users AS (
      |  SELECT user_id, MAX(CAST(ts AS DATE)) AS last_day,
      |    CAST(COUNT(*) AS BIGINT) AS freq,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
      |  FROM events GROUP BY user_id),
      |r AS (
      |  SELECT *, CAST(date_diff('day', last_day,
      |    (SELECT MAX(last_day) FROM users)) AS BIGINT) AS recency_days
      |  FROM users),
      |th AS (
      |  SELECT quantile_cont(recency_days, 0.25) AS rq1,
      |         quantile_cont(recency_days, 0.5) AS rq2,
      |         quantile_cont(recency_days, 0.75) AS rq3,
      |         quantile_cont(freq, 0.25) AS fq1,
      |         quantile_cont(freq, 0.5) AS fq2,
      |         quantile_cont(freq, 0.75) AS fq3,
      |         quantile_cont(monetary_cents, 0.25) AS mq1,
      |         quantile_cont(monetary_cents, 0.5) AS mq2,
      |         quantile_cont(monetary_cents, 0.75) AS mq3
      |  FROM r),
      |coded AS (
      |  SELECT
      |    1 + (CASE WHEN recency_days < rq1 THEN 1 ELSE 0 END)
      |      + (CASE WHEN recency_days < rq2 THEN 1 ELSE 0 END)
      |      + (CASE WHEN recency_days < rq3 THEN 1 ELSE 0 END) AS r_code,
      |    1 + (CASE WHEN freq > fq1 THEN 1 ELSE 0 END)
      |      + (CASE WHEN freq > fq2 THEN 1 ELSE 0 END)
      |      + (CASE WHEN freq > fq3 THEN 1 ELSE 0 END) AS f_code,
      |    1 + (CASE WHEN monetary_cents > mq1 THEN 1 ELSE 0 END)
      |      + (CASE WHEN monetary_cents > mq2 THEN 1 ELSE 0 END)
      |      + (CASE WHEN monetary_cents > mq3 THEN 1 ELSE 0 END) AS m_code,
      |    freq, monetary_cents
      |  FROM r CROSS JOIN th)
      |SELECT CAST(r_code AS BIGINT) AS r_code, CAST(f_code AS BIGINT) AS f_code,
      |  CAST(m_code AS BIGINT) AS m_code,
      |  CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(freq) AS BIGINT) AS sum_events,
      |  CAST(SUM(monetary_cents) AS BIGINT) AS sum_monetary_cents
      |FROM coded GROUP BY r_code, f_code, m_code
      |ORDER BY r_code NULLS FIRST, f_code NULLS FIRST, m_code NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- imp3
  /** Winsorization (percentile clamping) — the outlier treatment beside
    * imp1's fill and imp2's carry-forward: per language, clamp document
    * length to the exact interpolated [p05, p95] band and report the
    * clip census + clamped moments. Cross-engine exactness: the
    * interpolated thresholds are bit-stable on integer inputs (the q10
    * argument), then everything downstream is INTEGER milli-units —
    * floor(q·1000) on bit-identical doubles is bit-identical, and the
    * clamped sum/mean never touch float accumulation.
    *
    * Scale posture: thresholds come from one per-group percentile
    * aggregate over (lang, n_chars) — group-count rows — and join back
    * BROADCAST; the clamp is map-side; the census is one hash aggregate
    * with map-side partials. The exact per-group percentile sorts per
    * group (q10's caveat) — a 100 TB run swaps in q06's GK sketch for
    * the thresholds and keeps the rest of the plan unchanged.
    */
  private def winsorize(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("lang"), col("n_chars"))
    val th = d.groupBy("lang")
      .agg(percentile(col("n_chars"), array(lit(0.05), lit(0.95))).as("q"))
      .select(col("lang"),
        floor(col("q")(0) * 1000).cast(LongType).as("lo_milli"),
        floor(col("q")(1) * 1000).cast(LongType).as("hi_milli"))
    d.join(broadcast(th), Seq("lang"))
      .select(col("lang"), col("lo_milli"), col("hi_milli"),
        (col("n_chars") * 1000).as("m"))
      .groupBy("lang", "lo_milli", "hi_milli")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("m") < col("lo_milli"), 1L).otherwise(0L)).as("n_clip_low"),
        sum(when(col("m") > col("hi_milli"), 1L).otherwise(0L)).as("n_clip_high"),
        sum(greatest(col("lo_milli"), least(col("hi_milli"), col("m"))))
          .as("sum_clamped_milli"))
      .select(col("lang"), col("n_docs"), col("n_clip_low"), col("n_clip_high"),
        col("lo_milli"), col("hi_milli"), col("sum_clamped_milli"),
        expr("sum_clamped_milli DIV n_docs").as("mean_clamped_milli"))
      .orderBy(col("lang").asc_nulls_first)
  }

  private val winsorizeSql =
    """WITH th AS (
      |  SELECT lang,
      |    CAST(floor(quantile_cont(n_chars, 0.05) * 1000) AS BIGINT) AS lo_milli,
      |    CAST(floor(quantile_cont(n_chars, 0.95) * 1000) AS BIGINT) AS hi_milli
      |  FROM documents GROUP BY lang)
      |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN d.n_chars * 1000 < lo_milli THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_low,
      |  CAST(SUM(CASE WHEN d.n_chars * 1000 > hi_milli THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_high,
      |  lo_milli, hi_milli,
      |  CAST(SUM(GREATEST(lo_milli, LEAST(hi_milli, d.n_chars * 1000))) AS BIGINT) AS sum_clamped_milli,
      |  CAST(SUM(GREATEST(lo_milli, LEAST(hi_milli, d.n_chars * 1000))) AS BIGINT)
      |    // CAST(COUNT(*) AS BIGINT) AS mean_clamped_milli
      |FROM documents d JOIN th USING (lang)
      |GROUP BY d.lang, lo_milli, hi_milli
      |ORDER BY d.lang NULLS FIRST""".stripMargin

  private def medianImpute(s: SparkSession, dir: String): DataFrame = {
    val qn = when(col("l_quantity") < 5.0, lit(null).cast(LongType))
      .otherwise(round(col("l_quantity")).cast(LongType))
    // wide: exact-percentile agg over the full fact table is compute-bound
    // and the single-row-group scan would run it in ONE task (r8: 5.6×)
    Tables.wide(s, dir, "lineitem")
      .select(col("l_returnflag"), qn.as("qn"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        count(col("qn")).as("n_present"),
        percentile(col("qn"), lit(0.5)).as("median_q"),
        sum(col("qn")).as("sum_present"))
      .select(
        col("l_returnflag"), col("n"),
        (col("n") - col("n_present")).as("n_imputed"),
        col("median_q"),
        (col("sum_present") +
          (col("n") - col("n_present")) * floor(col("median_q")).cast(LongType))
          .as("sum_imputed"))
      .orderBy(col("l_returnflag").asc_nulls_first)
  }

  private val medianImputeSql =
    """WITH q AS (
      |  SELECT l_returnflag,
      |    CASE WHEN l_quantity < 5.0 THEN NULL
      |         ELSE CAST(round(l_quantity) AS BIGINT) END AS qn
      |  FROM lineitem)
      |SELECT l_returnflag,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(*) - COUNT(qn) AS BIGINT) AS n_imputed,
      |  quantile_cont(qn, 0.5) AS median_q,
      |  CAST(SUM(qn) + (COUNT(*) - COUNT(qn))
      |    * CAST(floor(quantile_cont(qn, 0.5)) AS BIGINT) AS BIGINT) AS sum_imputed
      |FROM q GROUP BY l_returnflag
      |ORDER BY l_returnflag NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- ev10
  /** Event-transition census (first-order Markov structure of user
    * behavior): count consecutive (event_type → next event_type) pairs
    * within each user's timeline. One window pass per user computes the
    * successor (`lead` under the total (ts, event_id) order), then a
    * plain aggregate counts the pairs; terminal events (no successor)
    * are dropped. Output adds the per-source floor-ppm transition
    * probability — integer math over exact counts, the engine-stable
    * ratio idiom. One shuffle on user_id, one on the pair — the minimal
    * plan; no per-row state beyond the window.
    */
  private def transitionCensus(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc_nulls_first, col("event_id").asc_nulls_first)
    val pairs = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    pairs
      .withColumn("p_ppm", expr("(n * 1000000) DIV sum(n) OVER (PARTITION BY from_type)"))
      .orderBy(col("from_type").asc_nulls_first, col("to_type").asc_nulls_first)
  }

  private val transitionCensusSql =
    """WITH nxt AS (
      |  SELECT event_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS next_type
      |  FROM events),
      |pairs AS (
      |  SELECT event_type AS from_type, next_type AS to_type,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM nxt WHERE next_type IS NOT NULL
      |  GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST(n * 1000000 // SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS p_ppm
      |FROM pairs
      |ORDER BY from_type NULLS FIRST, to_type NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- ev12
  /** Session-path census — ev10's higher-order sibling: instead of
    * first-order (from → to) transitions, the full opening PATH (first
    * [[PathLen]] event types per user under the (ts, event_id) total
    * order) concatenated into one journey string, counted across users,
    * top 20. One window pass ranks each user's events; the in-order
    * concat is the array_sort(collect_list(struct(rn, type))) idiom
    * (collect_list alone has nondeterministic order — the struct sort
    * restores it, same as the k-means centroid assembly); the census
    * aggregate reduces to path grain before the top-20 TakeOrdered.
    */
  private val PathLen = 3

  private def sessionPaths(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc_nulls_first, col("event_id").asc_nulls_first)
    t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PathLen)
      .groupBy("user_id")
      // nullif aligns the all-null corner with the oracle: concat_ws
      // yields '' when every element is null where string_agg yields
      // NULL (both skip interior nulls identically, so only the
      // zero-non-null case needs the pin)
      .agg(expr("nullif(concat_ws('>', transform(" +
        "array_sort(collect_list(struct(rn, event_type))), x -> x.event_type)), '')")
        .as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path").asc)
      .limit(20)
  }

  private val sessionPathsSql =
    s"""WITH ranked AS (
       |  SELECT user_id, event_type,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS rn
       |  FROM events),
       |paths AS (
       |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
       |  FROM ranked WHERE rn <= $PathLen
       |  GROUP BY user_id)
       |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
       |FROM paths GROUP BY path
       |ORDER BY n_users DESC, path ASC
       |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- ev14
  /** Interval coalescing (union of overlapping intervals) — the missing
    * third of the interval toolbox next to ev9 (how many overlap) and
    * rj2 (which pairs overlap): merge each user's [es, es+dur) event
    * intervals (ev9's duration convention) into maximal covered spans.
    * Touching intervals ([a,b) then [b,c)) merge. The output is the
    * activity-coverage table sessionization-by-gap (ev3) can't produce,
    * because here span boundaries come from explicit durations, not
    * inter-event gaps.
    *
    * Plan: the textbook scalable spelling — per-key running max of
    * interval end over the (es, event_id) order, a new-span flag where
    * the current start clears it, a running sum of flags as the span id,
    * then one hash aggregate per (user, span). Two window passes and one
    * aggregate, all partitioned by user_id (unbounded key domain — no
    * per-type serial task anywhere).
    */
  private def intervalMerge(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val es = unix_timestamp(col("ts"))
    val dur = greatest(lit(1L), round(col("value")).cast(LongType))
    val iv = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), es.as("es"), (es + dur).as("en"))
    val ord = Window.partitionBy("user_id")
      .orderBy(col("es").asc_nulls_first, col("event_id").asc_nulls_first)
    iv
      .withColumn("prev_max",
        max(col("en")).over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_span",
        when(col("prev_max").isNull || col("es") > col("prev_max"), lit(1L))
          .otherwise(lit(0L)))
      .withColumn("span_id",
        sum(col("new_span")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "span_id")
      .agg(min(col("es")).as("span_start"), max(col("en")).as("span_end"),
        count(lit(1)).as("n_events"))
      .withColumn("covered_s", col("span_end") - col("span_start"))
      .orderBy(col("user_id").asc_nulls_first, col("span_start").asc_nulls_first,
        col("span_id").asc_nulls_first)
  }

  private val intervalMergeSql =
    """WITH iv AS (
      |  SELECT event_id, user_id, epoch_us(ts) // 1000000 AS es,
      |    epoch_us(ts) // 1000000 + GREATEST(1, CAST(round(value) AS BIGINT)) AS en
      |  FROM events),
      |o AS (
      |  SELECT user_id, event_id, es, en,
      |    MAX(en) OVER (PARTITION BY user_id
      |      ORDER BY es NULLS FIRST, event_id NULLS FIRST
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |  FROM iv),
      |g AS (
      |  SELECT *, SUM(CASE WHEN prev_max IS NULL OR es > prev_max THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id
      |      ORDER BY es NULLS FIRST, event_id NULLS FIRST
      |      ROWS UNBOUNDED PRECEDING) AS grp
      |  FROM o)
      |SELECT user_id, CAST(grp AS BIGINT) AS span_id,
      |  MIN(es) AS span_start, MAX(en) AS span_end,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(MAX(en) - MIN(es) AS BIGINT) AS covered_s
      |FROM g GROUP BY user_id, grp
      |ORDER BY user_id NULLS FIRST, span_start NULLS FIRST, span_id NULLS FIRST""".stripMargin

  override val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ev14_interval_merge" -> (intervalMerge _),
    "ev10_transition_census" -> (transitionCensus _),
    "ev12_session_paths" -> (sessionPaths _),
    "ev9_concurrency" -> (concurrency _),
    "ev11_concurrency_chunked" -> (concurrencyChunked _),
    "w4_running_distinct" -> (runningDistinct _),
    "w5_running_distinct_chunked" -> (runningDistinctChunked _),
    "imp1_median_impute" -> (medianImpute _),
    "imp2_forward_fill" -> (forwardFill _),
    "imp3_winsorize" -> (winsorize _),
    "ev17_rfm_segments" -> (rfmSegments _),
    "dq8_gap_audit" -> (gapAudit _),
    "ev20_interarrival_hist" -> (interarrivalHistogram _),
    "ev22_stickiness" -> (stickiness _),
    "ev23_last_touch" -> (lastTouchAttribution _),
    "ev24_dau_sketch" -> (dauSketch _),
    "ev25_audience_overlap" -> (audienceOverlap _),
    "ev19_weekday_profile" -> (weekdayProfile _),
    "ev6_funnel" -> (funnel _),
    "ev7_cohort_retention" -> (cohortRetention _),
    "ev8_anomaly_days" -> (anomalyDays _),
    "dq1_column_profile" -> (columnProfile _),
    "ev5_json_extract" -> (jsonExtract _),
    "ev13_from_json" -> (fromJsonTyped _),
    "u3_union_distinct" -> (unionDistinct _),
    "sw1_session_window" -> (sessionWindowNative _),
    "j7_right_join" -> (rightJoin _),
    "j8_cross_small" -> (crossSmall _),
    "sj1_salted_join" -> (saltedJoinGate _),
    "sj4_skew_join" -> (skewJoinGate _),
    "sj2_sketch_planned_join" -> (sketchPlannedJoinGate _),
    "sj3_sketch_join_order" -> (sketchJoinOrderGate _),
    "bf1_bloom_semi_join" -> (bloomSemiJoin _),
    "bkt1_bucketed_join" -> (bucketedJoinGate _),
    "cmp1_compacted_table" -> (compactedTableGate _),
    "dpp1_partition_pruned_join" -> (partitionPrunedJoin _),
    "zo1_zorder_audit" -> (zorderAudit _),
    "un1_unpivot" -> (unpivotMetrics _),
    "c10_int_math" -> (intMath _),
    "ev4_gapfill" -> (gapfill _),
    "j6_full_outer" -> (fullOuter _),
    "e3_posexplode" -> (posExplodeWords _),
    "aj1_asof_join" -> (asofJoin _),
    "aj4_asof_exec" -> (asofExecJoin _),
    "aj3_asof_nearest" -> (asofNearest _),
    "aj2_asof_forward" -> (asofForward _),
    "aj5_asof_interp" -> (asofInterp _),
    "rj1_range_join" -> (rangeJoin _),
    "rj2_interval_overlap" -> (intervalOverlapJoin _),
    "opt2_range_bin_auto" -> (rangeBinAuto _),
    "opt3_inlist_semijoin" -> (inlistSemiJoin _),
    "opt4_approx_distinct" -> (approxDistinctAuto _),
    "opt5_mv_rewrite" -> (mvRewriteGate _),
    "opt6_mv_refresh" -> (mvRefreshGate _),
    "cmp2_version_diff" -> (versionDiff _),
    "opt7_join_elim" -> (joinElimGate _),
    "opt8_eager_agg" -> (eagerAggGate _),
    "inc3_join_ivm" -> (joinIvm _),
    "opt9_rule_composition" -> (ruleCompositionGate _),
    "opt10_star_mv" -> (starMvGate _),
    "opt11_star_mv_refresh" -> (starRefreshGate _),
    "opt12_filtered_star_mv" -> (filteredStarGate _),
    "opt13_star_mv_avg" -> (starAvgGate _),
    "opt14_distinct_elim" -> (distinctElimGate _),
    "opt15_singleton_agg" -> (singletonAggGate _),
    "opt16_footer_agg" -> (footerAggGate _),
    "opt17_lev_threshold" -> (levThresholdGate _),
    "ev26_autocorrelation" -> (autocorrelation _),
    "inc4_delete_ivm" -> (deleteIvm _),
    "inc5_minmax_ivm" -> (minMaxIvm _),
    "f6_like_regex" -> (likeFilter _),
    "j5_semi_anti" -> (semiAnti _),
    "q02_rollup" -> (rollupAgg _),
    "ev3_sessionize" -> (sessionize _),
    "f5_empty_guard" -> (emptyGuard _),
    "p3_drop_columns" -> (dropColumns _),
    "s5_schema_conform" -> (schemaConform _),
    "ev1_time_buckets" -> (eventBuckets _),
    "ev2_props_extract" -> (eventProps _))

  override val oracle: Map[String, String] = Map(
    "ev14_interval_merge" -> intervalMergeSql,
    "ev10_transition_census" -> transitionCensusSql,
    "ev12_session_paths" -> sessionPathsSql,
    "ev9_concurrency" -> concurrencySql,
    // ev11 intentionally shares ev9's serial sweep oracle: the gate
    // proves the hierarchical spelling ≡ the serial sweep-line
    "ev11_concurrency_chunked" -> concurrencySql,
    "w4_running_distinct" -> runningDistinctSql,
    // w5 intentionally shares w4's serial-window oracle: the gate proves
    // the hierarchical prefix-sum spelling ≡ the serial running window
    "w5_running_distinct_chunked" -> runningDistinctSql,
    "imp1_median_impute" -> medianImputeSql,
    "imp2_forward_fill" -> forwardFillSql,
    "imp3_winsorize" -> winsorizeSql,
    "ev17_rfm_segments" -> rfmSegmentsSql,
    "dq8_gap_audit" -> gapAuditSql,
    "ev20_interarrival_hist" -> interarrivalHistogramSql,
    "ev22_stickiness" -> stickinessSql,
    "ev23_last_touch" -> lastTouchAttributionSql,
    "ev24_dau_sketch" -> dauSketchSql,
    "ev25_audience_overlap" -> audienceOverlapSql,
    "ev19_weekday_profile" -> weekdayProfileSql,
    "ev6_funnel" -> funnelSql,
    "ev7_cohort_retention" -> cohortRetentionSql,
    "ev8_anomaly_days" -> anomalyDaysSql,
    "dq1_column_profile" -> columnProfileSql,
    "ev5_json_extract" -> jsonExtractSql,
    "ev13_from_json" -> fromJsonTypedSql,
    "u3_union_distinct" -> unionDistinctSql,
    "sw1_session_window" -> sessionWindowNativeSql,
    "j7_right_join" -> rightJoinSql,
    "j8_cross_small" -> crossSmallSql,
    "sj1_salted_join" -> saltedJoinGateSql,
    "sj4_skew_join" -> skewJoinGateSql,
    "sj2_sketch_planned_join" -> sketchPlannedJoinGateSql,
    "sj3_sketch_join_order" -> sketchJoinOrderGateSql,
    "bf1_bloom_semi_join" -> bloomSemiJoinSql,
    "bkt1_bucketed_join" -> bucketedJoinGateSql,
    "cmp1_compacted_table" -> compactedTableGateSql,
    "dpp1_partition_pruned_join" -> partitionPrunedJoinSql,
    "zo1_zorder_audit" -> zorderAuditSql,
    "un1_unpivot" -> unpivotMetricsSql,
    "c10_int_math" -> intMathSql,
    "ev4_gapfill" -> gapfillSql,
    "j6_full_outer" -> fullOuterSql,
    "e3_posexplode" -> posExplodeWordsSql,
    "aj1_asof_join" -> asofJoinSql,
    "aj4_asof_exec" -> asofJoinSql,
    "aj3_asof_nearest" -> asofNearestSql,
    "aj2_asof_forward" -> asofForwardSql,
    "aj5_asof_interp" -> asofInterpSql,
    "rj1_range_join" -> rangeJoinSql,
    "rj2_interval_overlap" -> intervalOverlapJoinSql,
    "opt2_range_bin_auto" -> rangeBinAutoSql,
    "opt3_inlist_semijoin" -> inlistSemiJoinSql,
    "opt4_approx_distinct" -> approxDistinctAutoSql,
    "opt5_mv_rewrite" -> mvRewriteGateSql,
    "opt6_mv_refresh" -> mvRefreshGateSql,
    "cmp2_version_diff" -> versionDiffSql,
    "opt7_join_elim" -> joinElimGateSql,
    "opt8_eager_agg" -> eagerAggGateSql,
    "inc3_join_ivm" -> joinIvmSql,
    "opt9_rule_composition" -> ruleCompositionGateSql,
    "opt10_star_mv" -> starMvGateSql,
    "opt11_star_mv_refresh" -> starRefreshGateSql,
    "opt12_filtered_star_mv" -> filteredStarGateSql,
    "opt13_star_mv_avg" -> starAvgGateSql,
    "opt14_distinct_elim" -> distinctElimGateSql,
    "opt15_singleton_agg" -> singletonAggGateSql,
    "opt16_footer_agg" -> footerAggGateSql,
    "opt17_lev_threshold" -> levThresholdGateSql,
    "ev26_autocorrelation" -> autocorrelationSql,
    "inc4_delete_ivm" -> deleteIvmSql,
    "inc5_minmax_ivm" -> minMaxIvmSql,
    "f6_like_regex" -> likeFilterSql,
    "j5_semi_anti" -> semiAntiSql,
    "q02_rollup" -> rollupAggSql,
    "ev3_sessionize" -> sessionizeSql,
    "f5_empty_guard" -> emptyGuardSql,
    "p3_drop_columns" -> dropColumnsSql,
    "s5_schema_conform" -> schemaConformSql,
    "ev1_time_buckets" -> eventBucketsSql,
    "ev2_props_extract" -> eventPropsSql)
}
