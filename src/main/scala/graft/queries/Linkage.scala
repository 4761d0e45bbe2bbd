package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Record linkage and incremental maintenance — the two operator families
  * a curation pipeline needs once data stops being append-only clean text:
  * fuzzy matching of near-identical entity names (vendor/product/author
  * dedup across sources) and CDC-style merge of a change stream into a
  * maintained snapshot. Both are beyond the reference surface (its joins
  * are exact left equi-joins, `dags/yougile_etl_dag.py:132,237,271-277`);
  * semantics follow the standard blocking + edit-distance-verify linkage
  * design and SQL MERGE.
  */
/** The corrupted-twin fixture kernel shared by er1/er2/er3/opt17: one
  * character of `c_name` substituted at the key-dependent position
  * 11 + (c_custkey + shift) % 8 — always past the stable 10-character
  * prefix, cycling with the key so every block carries twins at
  * levenshtein 1. ONE definition with paired Scala/SQL spellings so the
  * four fixtures cannot drift apart (r16 review: the formula existed in
  * eight copies; a drifted copy would silently de-vacuate its gate).
  */
private[queries] object TwinCorruption {
  def nameSql(shift: Long): String =
    s"concat(substr(c_name, 1, CAST(10 + ((c_custkey + $shift) % 8) AS INT)), 'x', " +
      s"substr(c_name, CAST(12 + ((c_custkey + $shift) % 8) AS INT)))"

  def name(shift: Long = 0L): Column = expr(nameSql(shift))
}

object Linkage extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  // ---------------------------------------------------------------- fz1
  /** Fuzzy name linkage: pairs of DISTINCT part names within edit
    * distance 2, blocked on the trailing token. Two scale decisions:
    *
    *  - Linkage runs over the distinct-NAME vocabulary, not rows: the
    *    name→rows aggregation collapses the corpus first (53k row-level
    *    pairs vs 24 name-level pairs at sf0.01), and vocabulary grows
    *    sublinearly with the corpus, so the quadratic verify is bounded
    *    regardless of row count. `n_rows`/`canon_key` keep the rollback
    *    to rows a semi-join away.
    *  - Blocking on the last token bounds the candidate set (standard
    *    blocking: recall is confined to edits outside the block key — a
    *    documented precision/recall trade every real linkage system
    *    makes; LSH over name shingles is the recall-complete alternative
    *    and lives in dd2/dd6). Levenshtein runs only within blocks.
    *
    * The block self-join broadcasts the vocabulary (dictionary-sized);
    * skewed blocks are AQE's problem, same as dd2's banded buckets.
    */
  private val FuzzyMaxDist = 2

  private def fuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    val names = t(s, dir, "part")
      .groupBy("p_name")
      .agg(count(lit(1)).as("n_rows"), min(col("p_partkey")).as("canon_key"))
      .withColumn("blk", element_at(split(col("p_name"), " "), -1))
    val a = names.select(col("p_name").as("name_a"), col("n_rows").as("rows_a"),
      col("canon_key").as("key_a"), col("blk"))
    val b = names.select(col("p_name").as("name_b"), col("n_rows").as("rows_b"),
      col("canon_key").as("key_b"), col("blk"))
    a.join(broadcast(b), Seq("blk"))
      .filter(col("name_a") < col("name_b"))
      // NB: the optimizer pushes the dist predicate back below the
      // Project (alias substituted), so levenshtein still evaluates in
      // both the Filter and the Project — acceptable: it runs on the
      // vocabulary-sized candidate set, not the corpus. The withColumn
      // spelling is for clarity, not (despite appearances) for sharing.
      // thresholded levenshtein: banded O(τ·n) decision, returns the
      // exact distance when ≤ τ and −1 otherwise — same output, less
      // work per candidate pair
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b"), FuzzyMaxDist.toInt).cast(LongType))
      .filter(col("dist") =!= -1L)
      .select("name_a", "name_b", "dist", "rows_a", "rows_b", "key_a", "key_b")
      .orderBy(col("name_a").asc_nulls_first, col("name_b").asc_nulls_first)
  }

  private val fuzzyJoinSql =
    s"""WITH names AS (
       |  SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    MIN(p_partkey) AS canon_key
       |  FROM part GROUP BY p_name),
       |keyed AS (
       |  SELECT p_name, n_rows, canon_key,
       |    string_split(p_name, ' ')[-1] AS blk FROM names)
       |SELECT a.p_name AS name_a, b.p_name AS name_b,
       |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
       |  a.n_rows AS rows_a, b.n_rows AS rows_b,
       |  a.canon_key AS key_a, b.canon_key AS key_b
       |FROM keyed a JOIN keyed b ON a.blk = b.blk AND a.p_name < b.p_name
       |WHERE levenshtein(a.p_name, b.p_name) <= $FuzzyMaxDist
       |ORDER BY name_a NULLS FIRST, name_b NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- cdc6
  /** Keyed snapshot diff — the table-comparison operator behind data
    * reconciliation / regression gating (did yesterday's rebuild change
    * anything it shouldn't have?): two snapshots of the orders dimension
    * derived deterministically (A drops keys ≡0 mod 11; B drops keys ≡0
    * mod 13 and perturbs the price of keys ≡0 mod 5), diffed into
    * added / removed / changed rows with both sides' values. ONE
    * full-outer join on the unique key; the change predicate is
    * null-safe per column (`<=>`-negation), so NULL→value and
    * value→NULL transitions count as changes rather than vanishing —
    * the F3 lesson applied to diffing. Unchanged rows are dropped
    * pre-exchange-output (the diff of two 10^12-row snapshots is
    * change-sized, not corpus-sized).
    */
  private def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast(LongType)
    val a = t(s, dir, "orders").filter(col("o_orderkey") % 11 =!= 0)
      .select(col("o_orderkey").as("key_a"), col("o_orderstatus").as("status_a"),
        cents.as("price_a"))
    val b = t(s, dir, "orders").filter(col("o_orderkey") % 13 =!= 0)
      .select(col("o_orderkey").as("key_b"), col("o_orderstatus").as("status_b"),
        when(col("o_orderkey") % 5 === 0, cents + 100).otherwise(cents).as("price_b"))
    a.join(b, col("key_a") === col("key_b"), "full_outer")
      .withColumn("kind",
        when(col("key_a").isNull, lit("added"))
          .when(col("key_b").isNull, lit("removed"))
          .when(!(col("status_a") <=> col("status_b")) ||
            !(col("price_a") <=> col("price_b")), lit("changed")))
      .filter(col("kind").isNotNull)
      .select(coalesce(col("key_a"), col("key_b")).as("o_orderkey"), col("kind"),
        col("status_a"), col("status_b"), col("price_a"), col("price_b"))
      .orderBy(col("o_orderkey").asc_nulls_first)
  }

  private val snapshotDiffSql =
    """WITH a AS (
      |  SELECT o_orderkey AS key_a, o_orderstatus AS status_a,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_a
      |  FROM orders WHERE o_orderkey % 11 != 0),
      |b AS (
      |  SELECT o_orderkey AS key_b, o_orderstatus AS status_b,
      |    CAST(round(o_totalprice * 100) AS BIGINT)
      |      + CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END AS price_b
      |  FROM orders WHERE o_orderkey % 13 != 0)
      |SELECT COALESCE(key_a, key_b) AS o_orderkey,
      |  CASE WHEN key_a IS NULL THEN 'added'
      |       WHEN key_b IS NULL THEN 'removed'
      |       WHEN status_a IS DISTINCT FROM status_b
      |         OR price_a IS DISTINCT FROM price_b THEN 'changed' END AS kind,
      |  status_a, status_b, price_a, price_b
      |FROM a FULL OUTER JOIN b ON key_a = key_b
      |WHERE (CASE WHEN key_a IS NULL THEN 'added'
      |            WHEN key_b IS NULL THEN 'removed'
      |            WHEN status_a IS DISTINCT FROM status_b
      |              OR price_a IS DISTINCT FROM price_b THEN 'changed' END) IS NOT NULL
      |ORDER BY o_orderkey NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- cdc1
  /** CDC merge (SQL MERGE semantics): apply a keyed change set — upserts
    * and tombstone deletes — to a snapshot in one pass. The change set is
    * derived deterministically from orders (keys %3, deletes %15, price
    * bumped, status 'X') so both engines construct the identical input;
    * the snapshot omits %7 keys so all three outcomes (kept / updated /
    * inserted) occur, plus deletes of existing and unseen keys.
    *
    * Plan shape: ONE full-outer sort-merge join on the key, delete
    * filter and column coalescing as projections on top — the same
    * single-shuffle shape Delta/Iceberg MERGE lowers to. When the change
    * batch is small (the common incremental case) the same code turns
    * into a broadcast join; nothing here assumes side sizes. Money stays
    * integer cents per the determinism rule.
    */
  private def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast(LongType)
    val snapshot = t(s, dir, "orders")
      .filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"), cents.as("price_c"))
    val changes = t(s, dir, "orders")
      .filter(col("o_orderkey") % 3 === 0)
      .select(
        col("o_orderkey").as("c_orderkey"),
        when(col("o_orderkey") % 15 === 0, lit("D")).otherwise(lit("U")).as("op"),
        lit("X").as("new_status"),
        (cents + 999).as("new_price_c"))
    snapshot.join(changes, col("o_orderkey") === col("c_orderkey"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(
        coalesce(col("o_orderkey"), col("c_orderkey")).as("o_orderkey"),
        when(col("c_orderkey").isNull, col("o_orderstatus"))
          .otherwise(col("new_status")).as("o_orderstatus"),
        when(col("c_orderkey").isNull, col("price_c"))
          .otherwise(col("new_price_c")).as("price_c"),
        when(col("c_orderkey").isNull, lit("kept"))
          .when(col("o_orderkey").isNull, lit("inserted"))
          .otherwise(lit("updated")).as("change_kind"))
      .orderBy(col("o_orderkey").asc_nulls_first)
  }

  private val mergeUpsertSql =
    """WITH snapshot AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
      |  FROM orders WHERE o_orderkey % 7 != 0),
      |changes AS (
      |  SELECT o_orderkey AS c_orderkey,
      |    CASE WHEN o_orderkey % 15 = 0 THEN 'D' ELSE 'U' END AS op,
      |    'X' AS new_status,
      |    CAST(round(o_totalprice * 100) AS BIGINT) + 999 AS new_price_c
      |  FROM orders WHERE o_orderkey % 3 = 0)
      |SELECT COALESCE(s.o_orderkey, c.c_orderkey) AS o_orderkey,
      |  CASE WHEN c.c_orderkey IS NULL THEN s.o_orderstatus
      |       ELSE c.new_status END AS o_orderstatus,
      |  CASE WHEN c.c_orderkey IS NULL THEN s.price_c
      |       ELSE c.new_price_c END AS price_c,
      |  CASE WHEN c.c_orderkey IS NULL THEN 'kept'
      |       WHEN s.o_orderkey IS NULL THEN 'inserted'
      |       ELSE 'updated' END AS change_kind
      |FROM snapshot s FULL OUTER JOIN changes c ON s.o_orderkey = c.c_orderkey
      |WHERE c.op IS NULL OR c.op != 'D'
      |ORDER BY o_orderkey NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- cdc2
  /** Latest-version-per-key current view (the read side of CDC: collapse
    * an event/change log to each key's newest state). Spelled as ONE
    * aggregate with `max_by` over a composite sort key — map-side
    * partials mean each task forwards one row per key to the exchange,
    * where the `row_number() OVER (PARTITION BY key ORDER BY ts DESC)`
    * spelling shuffles the whole log and discards all but one row per
    * partition afterward (the TopK.scala anti-pattern, log-scale
    * edition).
    *
    * Determinism: max_by ties are engine-private, so the sort key is a
    * zero-padded `(epoch micros, event_id)` string. Each component is
    * biased by 2^63 into [0, 2^64) BEFORE padding — a raw lpad embeds
    * the '-' sign mid-string, so among two negative values the larger
    * magnitude would compare GREATER and invert "latest" (ADVICE r05;
    * latent here because fixture timestamps are post-epoch, but
    * pre-1970 timestamps and negative ids are representable). The bias
    * runs in DECIMAL(38,0)/HUGEINT so it cannot overflow, and 20 digits
    * hold every value of the shifted domain (max 2^64−1), so string
    * order IS numeric order for all BIGINTs. NULL payloads are
    * the other engine trap: Spark's max_by returns whatever value sits
    * at the max key — including NULL — where DuckDB's arg_max SKIPS
    * null-argument rows and would surface an OLDER non-null value, so
    * the value column is sentinel-coalesced (−1 = "latest version has
    * no value") on both sides before aggregating. Integer cents per
    * the cross-engine money rule.
    */
  private def latestPerKey(s: SparkSession, dir: String): DataFrame = {
    def biased(c: Column) = lpad(
      (c.cast(DecimalType(38, 0)) + lit(BigDecimal("9223372036854775808")))
        .cast(StringType), 20, "0")
    val key = concat(biased(unix_micros(col("ts"))), biased(col("event_id")))
    t(s, dir, "events")
      .groupBy("user_id", "event_type")
      .agg(
        max_by(col("ts"), key).as("last_ts"),
        max_by(col("event_id"), key).as("last_event_id"),
        max_by(coalesce(round(col("value") * 100).cast(LongType), lit(-1L)), key)
          .as("last_value_c"),
        count(lit(1)).as("n_versions"))
      .orderBy(col("user_id").asc_nulls_first, col("event_type").asc_nulls_first)
  }

  private val latestPerKeySql =
    """SELECT user_id, event_type,
      |  arg_max(ts, k) AS last_ts,
      |  arg_max(event_id, k) AS last_event_id,
      |  arg_max(COALESCE(CAST(round(value * 100) AS BIGINT), -1), k) AS last_value_c,
      |  CAST(COUNT(*) AS BIGINT) AS n_versions
      |FROM (SELECT *,
      |        lpad(CAST(CAST(epoch_us(ts) AS HUGEINT) + 9223372036854775808 AS VARCHAR), 20, '0') ||
      |        lpad(CAST(CAST(event_id AS HUGEINT) + 9223372036854775808 AS VARCHAR), 20, '0') AS k
      |      FROM events)
      |GROUP BY user_id, event_type
      |ORDER BY user_id NULLS FIRST, event_type NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- opt1
  /** cdc2's problem written the way users actually write it — the
    * `row_number() = 1` window idiom — relying on the
    * [[graft.plans.RowNumberDedupRewrite]] optimizer rule (installed by
    * `SparkEntry.configure`) to plan it as the min_by
    * hash aggregate cdc2 hand-writes. The oracle executes the window
    * spelling literally in DuckDB, so the gate hash-proves the REWRITE:
    * any semantic slip in the rule (tie handling, null ordering, payload
    * extraction) breaks this entry. OptimizerRuleSpec additionally pins
    * the plan shape (no Window/Sort, an aggregate with min_by).
    *
    * First lineitem per order by (ship date, content key): the md5
    * content key makes the sort key unique per distinct payload, so both
    * spellings are deterministic — ties can only occur between fully
    * identical rows (integer-surrogate columns per the cross-engine
    * money rule; integral doubles cast exactly).
    */
  private def firstPerKeyWindow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = t(s, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_shipdate"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"),
        col("l_quantity").cast(LongType).as("qty"),
        round(col("l_extendedprice") * 100).cast(LongType).as("price_c"))
      .withColumn("rk", md5(concat_ws("|",
        col("l_partkey").cast(StringType), col("l_suppkey").cast(StringType),
        col("l_linenumber").cast(StringType), col("qty").cast(StringType),
        col("price_c").cast(StringType))))
    val w = Window.partitionBy("l_orderkey")
      .orderBy(col("l_shipdate").asc_nulls_first, col("rk").asc_nulls_first)
    base
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("l_orderkey"), col("l_shipdate").as("first_shipdate"), col("l_partkey"),
        col("l_suppkey"), col("l_linenumber"), col("qty"), col("price_c"), col("rk"))
      .orderBy(col("l_orderkey").asc_nulls_first)
  }

  private val firstPerKeyWindowSql =
    """WITH base AS (
      |  SELECT l_orderkey, l_shipdate, l_partkey, l_suppkey, l_linenumber,
      |    CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
      |    md5(concat_ws('|', CAST(l_partkey AS VARCHAR), CAST(l_suppkey AS VARCHAR),
      |      CAST(l_linenumber AS VARCHAR), CAST(CAST(l_quantity AS BIGINT) AS VARCHAR),
      |      CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR))) AS rk
      |  FROM lineitem),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY l_orderkey
      |    ORDER BY l_shipdate NULLS FIRST, rk NULLS FIRST) AS rn
      |  FROM base)
      |SELECT l_orderkey, l_shipdate AS first_shipdate, l_partkey, l_suppkey,
      |  l_linenumber, qty, price_c, rk
      |FROM r WHERE rn = 1
      |ORDER BY l_orderkey NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- cdc3
  /** SCD Type-2 history build — the write side cdc1/cdc2 don't cover:
    * turn a change log into versioned validity intervals per key.
    * Version numbers and interval edges come from one window pass over
    * (user_id, event_type): valid_from = the event's time, valid_to =
    * `lead` of it (null = open-ended), is_current ⇔ no successor. Time
    * is integer epoch-micros (the w3/cdc2 convention) and the in-key
    * order is the total (ts, event_id), so intervals are engine-exact;
    * value payloads are sentinel-coalesced like cdc2 (null value ≠
    * absent row). Keys are sampled (user_id % 10 = 0) BEFORE the
    * window — a per-key pre-filter cannot change any surviving key's
    * history, and it pushes to the scan.
    *
    * Scale posture: one shuffle on the key, each partition windowed in
    * time order — the minimal plan for interval construction; nothing
    * driver-side.
    */
  private def scd2History(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("es").asc_nulls_first, col("event_id").asc_nulls_first)
    t(s, dir, "events")
      .filter(col("user_id") % 10 === 0)
      .select(
        col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("es"),
        coalesce(round(col("value") * 100).cast(LongType), lit(-1L)).as("value_c"))
      .select(
        col("user_id"), col("event_type"), col("event_id"), col("value_c"),
        row_number().over(w).cast(LongType).as("version"),
        col("es").as("valid_from_us"),
        lead(col("es"), 1).over(w).as("valid_to_us"),
        lead(col("es"), 1).over(w).isNull.as("is_current"))
      .orderBy(col("user_id").asc_nulls_first, col("event_type").asc_nulls_first,
        col("version").asc_nulls_first)
  }

  private val scd2HistorySql =
    """WITH base AS (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS es,
      |    COALESCE(CAST(round(value * 100) AS BIGINT), -1) AS value_c
      |  FROM events WHERE user_id % 10 = 0)
      |SELECT user_id, event_type, event_id, value_c,
      |  CAST(row_number() OVER w AS BIGINT) AS version,
      |  es AS valid_from_us,
      |  lead(es) OVER w AS valid_to_us,
      |  lead(es) OVER w IS NULL AS is_current
      |FROM base
      |WINDOW w AS (PARTITION BY user_id, event_type
      |             ORDER BY es NULLS FIRST, event_id NULLS FIRST)
      |ORDER BY user_id NULLS FIRST, event_type NULLS FIRST, version NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- cdc7
  /** Point-in-time (as-of) snapshot of the versioned dimension — "what
    * did every key look like at T?", the read side cdc3's history
    * exists for. The naive lookup builds the FULL history and selects
    * the interval containing T (the oracle's spelling); the engine
    * instead pushes `ts <= T` to the SCAN and takes each key's latest
    * surviving row with ONE `max_by` aggregate (cdc2's plan) — version
    * = the count of events at or before T. No window, no post-T data
    * read at all; the gate hash proves prefilter+argmax ≡ the interval
    * lookup. At 100 TB this is the difference between scanning the
    * whole log and scanning the partition-pruned prefix.
    */
  private val AsOfUs = 1705276800000000L // 2024-01-15T00:00:00Z

  private def asofSnapshot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("user_id") % 10 === 0)
      .select(
        col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("es"),
        coalesce(round(col("value") * 100).cast(LongType), lit(-1L)).as("value_c"))
      .filter(col("es") <= AsOfUs)
      .groupBy("user_id", "event_type")
      .agg(
        count(lit(1)).as("version"),
        max_by(struct(col("value_c"), col("es")),
          struct(col("es"), col("event_id"))).as("last"))
      .select(col("user_id"), col("event_type"), col("version"),
        col("last.value_c").as("value_c"), col("last.es").as("valid_from_us"))
      .orderBy(col("user_id").asc_nulls_first, col("event_type").asc_nulls_first)

  private val asofSnapshotSql =
    s"""WITH base AS (
       |  SELECT user_id, event_type, event_id, epoch_us(ts) AS es,
       |    COALESCE(CAST(round(value * 100) AS BIGINT), -1) AS value_c
       |  FROM events WHERE user_id % 10 = 0),
       |hist AS (
       |  SELECT user_id, event_type, value_c,
       |    CAST(row_number() OVER w AS BIGINT) AS version,
       |    es AS valid_from_us,
       |    lead(es) OVER w AS valid_to_us
       |  FROM base
       |  WINDOW w AS (PARTITION BY user_id, event_type
       |               ORDER BY es NULLS FIRST, event_id NULLS FIRST))
       |SELECT user_id, event_type, version, value_c, valid_from_us
       |FROM hist
       |WHERE valid_from_us <= $AsOfUs
       |  AND (valid_to_us IS NULL OR valid_to_us > $AsOfUs)
       |ORDER BY user_id NULLS FIRST, event_type NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- cdc4
  /** Incremental SCD Type-2 MERGE — cdc3's history REBUILD restated as
    * the maintenance operation a warehouse actually runs: a maintained
    * versioned dimension (the history of every change before the split
    * point) absorbs a new change batch (changes at/after it) by closing
    * each touched key's open row at the batch's first change time and
    * appending the batch's rows as continuation versions. The oracle is
    * cdc3's FULL-REBUILD SQL verbatim (the w5/ev11 shared-oracle
    * pattern), so the gate hash-proves the merge invariant: incremental
    * merge ≡ full rebuild, with the split point invisible in the output.
    *
    * Correctness rests on the split respecting the in-key total order
    * (es asc NULLS FIRST, event_id): every "old" event (es < T, or null
    * es — nulls sort first) precedes every batch event (es ≥ T), so the
    * per-side `row_number`s compose into the full-history version
    * sequence, the old current row's successor in the full order is
    * exactly the key's first batch row, and a key absent from the batch
    * keeps its history untouched.
    *
    * Plan shape: one windowed pass per side, plus two key-grain side
    * inputs joined back null-safely (`<=>` — the r7 lesson: equi-joins
    * drop null keys that window PARTITION BY keeps): the batch's
    * first-change time per key (batch-sized → broadcast) and the
    * dimension's CURRENT version per key (the is_current-pruned slice a
    * real dimension reads cheaply, not a rescan of closed history).
    * Nothing re-windows the maintained history.
    */
  private val Cdc4SplitUs = 1705363200000000L // 2024-01-16T00:00Z, mid-fixture

  private def scd2MergeIncremental(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = t(s, dir, "events")
      .filter(col("user_id") % 10 === 0)
      .select(
        col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("es"),
        coalesce(round(col("value") * 100).cast(LongType), lit(-1L)).as("value_c"))
    val older = base.filter(col("es").isNull || col("es") < Cdc4SplitUs)
    val batch = base.filter(col("es") >= Cdc4SplitUs)
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("es").asc_nulls_first, col("event_id").asc_nulls_first)
    val hist = older.select(
      col("user_id"), col("event_type"), col("event_id"), col("value_c"),
      row_number().over(w).cast(LongType).as("version"),
      col("es").as("valid_from_us"),
      lead(col("es"), 1).over(w).as("valid_to_us"),
      lead(col("es"), 1).over(w).isNull.as("is_current"))
    val batchRows = batch.select(
      col("user_id"), col("event_type"), col("event_id"), col("value_c"),
      row_number().over(w).cast(LongType).as("brn"),
      col("es").as("valid_from_us"),
      lead(col("es"), 1).over(w).as("valid_to_us"),
      lead(col("es"), 1).over(w).isNull.as("is_current"))
    val firstChange = batch
      .groupBy(col("user_id").as("fc_uid"), col("event_type").as("fc_et"))
      .agg(min(col("es")).as("first_change_us"))
    val carryBase = hist.filter(col("is_current"))
      .select(col("user_id").as("cb_uid"), col("event_type").as("cb_et"),
        col("version").as("base_version"))
    val closed = hist
      .join(broadcast(firstChange),
        col("user_id") <=> col("fc_uid") && col("event_type") <=> col("fc_et"), "left")
      .select(col("user_id"), col("event_type"), col("event_id"), col("value_c"),
        col("version"), col("valid_from_us"),
        when(col("is_current") && col("first_change_us").isNotNull,
          col("first_change_us")).otherwise(col("valid_to_us")).as("valid_to_us"),
        (col("is_current") && col("first_change_us").isNull).as("is_current"))
    val appended = batchRows
      .join(broadcast(carryBase),
        col("user_id") <=> col("cb_uid") && col("event_type") <=> col("cb_et"), "left")
      .select(col("user_id"), col("event_type"), col("event_id"), col("value_c"),
        (coalesce(col("base_version"), lit(0L)) + col("brn")).as("version"),
        col("valid_from_us"), col("valid_to_us"), col("is_current"))
    closed.unionByName(appended)
      .orderBy(col("user_id").asc_nulls_first, col("event_type").asc_nulls_first,
        col("version").asc_nulls_first)
  }

  // ---------------------------------------------------------------- cdc5
  /** Delete-aware SCD Type-2 history — the change-log shape cdc3/cdc4
    * leave uncovered: a CDC stream carries TOMBSTONES (delete records),
    * and a delete must close the key's open interval without emitting a
    * version row, leaving the key with NO current row until a later
    * change re-opens it. The live-row version sequence stays dense
    * across deletes (row 3 deleted → the next insert is version 3, not
    * 4 — versions number surviving rows, not raw events).
    *
    * The fixture has no literal delete records, so the op-code derives
    * deterministically from the payload (`value_c % 5 = 0` ≈ 20%
    * tombstones — both engines state the same derivation); everything
    * downstream of the marker is the real operator. `closed_by_delete`
    * distinguishes intervals ended by a new value from intervals ended
    * by a delete; `is_current` uses the non-nullable successor probe
    * `lead(event_id)` (a null-es successor would alias "no successor"
    * under `lead(es)`). Three-valued logic: `has_next AND next_tomb`
    * is FALSE (not null) when has_next is false, in both engines.
    *
    * Scale posture: one shuffle on the key; the tombstone pass and the
    * live-row renumbering share the same partitioning AND sort order,
    * so Catalyst plans one Exchange + one Sort feeding both Window
    * operators — deletes cost no extra pass.
    */
  private def scd2Tombstones(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("es").asc_nulls_first, col("event_id").asc_nulls_first)
    val wLive = Window.partitionBy("user_id", "event_type")
      .orderBy(col("valid_from_us").asc_nulls_first, col("event_id").asc_nulls_first)
    t(s, dir, "events")
      .filter(col("user_id") % 10 === 0)
      .select(
        col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("es"),
        coalesce(round(col("value") * 100).cast(LongType), lit(-1L)).as("value_c"))
      .withColumn("tomb", col("value_c") % 5 === 0)
      .select(
        col("user_id"), col("event_type"), col("event_id"), col("value_c"), col("tomb"),
        col("es").as("valid_from_us"),
        lead(col("es"), 1).over(w).as("valid_to_us"),
        lead(col("tomb"), 1).over(w).as("next_tomb"),
        lead(col("event_id"), 1).over(w).isNotNull.as("has_next"))
      .filter(!col("tomb"))
      .select(
        col("user_id"), col("event_type"), col("event_id"), col("value_c"),
        row_number().over(wLive).cast(LongType).as("version"),
        col("valid_from_us"), col("valid_to_us"),
        (col("has_next") && col("next_tomb")).as("closed_by_delete"),
        (!col("has_next")).as("is_current"))
      .orderBy(col("user_id").asc_nulls_first, col("event_type").asc_nulls_first,
        col("version").asc_nulls_first)
  }

  private val scd2TombstonesSql =
    """WITH base AS (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS es,
      |    COALESCE(CAST(round(value * 100) AS BIGINT), -1) AS value_c
      |  FROM events WHERE user_id % 10 = 0),
      |marked AS (SELECT *, value_c % 5 = 0 AS tomb FROM base),
      |seq AS (
      |  SELECT user_id, event_type, event_id, value_c, tomb,
      |    es AS valid_from_us,
      |    lead(es) OVER w AS valid_to_us,
      |    lead(tomb) OVER w AS next_tomb,
      |    lead(event_id) OVER w IS NOT NULL AS has_next
      |  FROM marked
      |  WINDOW w AS (PARTITION BY user_id, event_type
      |               ORDER BY es NULLS FIRST, event_id NULLS FIRST))
      |SELECT user_id, event_type, event_id, value_c,
      |  CAST(row_number() OVER (PARTITION BY user_id, event_type
      |    ORDER BY valid_from_us NULLS FIRST, event_id NULLS FIRST) AS BIGINT) AS version,
      |  valid_from_us, valid_to_us,
      |  (has_next AND next_tomb) AS closed_by_delete,
      |  NOT has_next AS is_current
      |FROM seq WHERE NOT tomb
      |ORDER BY user_id NULLS FIRST, event_type NULLS FIRST, version NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- inc1
  /** Incremental AGGREGATE refresh — materialized-view maintenance, the
    * aggregate-side sibling of cdc4's dimension merge: a maintained
    * per-(flag, ship-year) count/sum table absorbs a new fact batch by
    * aggregating ONLY the batch and outer-merging the two group frames
    * (coalesce-to-zero on both sides). The oracle is the full rebuild
    * GROUP BY over the whole fact table, so the gate hash-proves
    * refresh ≡ rebuild — the invariant every incremental MV engine
    * (Delta MVs, Materialize, dbt incremental) rests on. The split
    * (mid-1997) leaves base-only, batch-only AND spanning groups in the
    * fixture, so all three merge branches are live, not just the
    * append-new-groups easy case.
    *
    * Scale posture: this is THE reason incremental refresh exists —
    * the batch-side aggregate touches only new data, and the merge
    * joins two group-grain frames (thousands of rows), never the fact
    * history. Counts and integer-e2 sums are self-commutative, so the
    * merge is exact; AVG-shaped measures must be carried as (sum, n)
    * pairs — stated here because silently merging averages is the
    * classic incremental-MV bug.
    */
  private val Inc1SplitTs = "1997-06-01 00:00:00"

  private def aggRefresh(s: SparkSession, dir: String): DataFrame = {
    val qtyE2 = round(col("l_quantity") * 100).cast(LongType)
    def aggSide(df: DataFrame, n: String, q: String) =
      df.groupBy(col("l_returnflag"), year(col("l_shipdate")).cast(LongType).as("ship_year"))
        .agg(count(lit(1)).as(n), sum(qtyE2).as(q))
    // wide: per-row round/cast over the full fact table; the unsplit
    // single-row-group scan must not serialize it (r8 driver: inc1 10.3×)
    val li = graft.Tables.wide(s, dir, "lineitem")
    val split = to_timestamp(lit(Inc1SplitTs))
    // null ship dates go to the maintained side: the two filters must
    // PARTITION every row (refresh ≡ rebuild), and `< split` alone drops
    // NULLs from both sides
    val maintained = aggSide(
      li.filter(col("l_shipdate") < split || col("l_shipdate").isNull), "n_a", "q_a")
    val delta = aggSide(li.filter(col("l_shipdate") >= split), "n_b", "q_b")
    maintained.join(delta, Seq("l_returnflag", "ship_year"), "full_outer")
      .select(col("l_returnflag"), col("ship_year"),
        (coalesce(col("n_a"), lit(0L)) + coalesce(col("n_b"), lit(0L))).as("n_rows"),
        (coalesce(col("q_a"), lit(0L)) + coalesce(col("q_b"), lit(0L))).as("sum_qty_e2"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("ship_year").asc_nulls_first)
  }

  // full-rebuild spelling: hash-proves incremental refresh ≡ rebuild
  private val aggRefreshSql =
    """SELECT l_returnflag, CAST(year(l_shipdate) AS BIGINT) AS ship_year,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_e2
      |FROM lineitem GROUP BY 1, 2
      |ORDER BY l_returnflag NULLS FIRST, ship_year NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- inc2
  /** Incremental JOIN-view refresh — the join-side sibling of inc1: with
    * both sides of V = orders ⋈ lineitem growing, the new contribution is
    * the delta algebra ΔV = ΔO⋈L₀ ∪ O₀⋈ΔL ∪ ΔO⋈ΔL; the maintained view
    * O₀⋈L₀ is never rejoined. Both tables split on their own time axis
    * (order date / ship date), so old orders receive new lineitems and
    * vice versa — all three delta terms carry rows, not just the
    * append-aligned easy case. The oracle is the full-join rebuild, so
    * the gate hash-proves refresh ≡ rebuild.
    *
    * Scale posture: each delta term joins a small batch against one base
    * (broadcast or key-shuffle of the batch side only) and ΔO⋈ΔL is
    * batch×batch; the base⋈base product — the whole point of incremental
    * maintenance — is read from the maintained store, not recomputed.
    * Results roll up to (order-year, returnflag) grain with exact
    * integer-cents revenue, keeping the gate output engine-stable.
    */
  private def joinRefresh(s: SparkSession, dir: String): DataFrame = {
    val split = to_timestamp(lit(Inc1SplitTs)).cast(DateType)
    // wide on both fact scans: four joins + union feed off them (r8: 2.3×)
    val o = graft.Tables.wide(s, dir, "orders").select("o_orderkey", "o_orderdate")
    val l = graft.Tables.wide(s, dir, "lineitem")
      .select("l_orderkey", "l_shipdate", "l_returnflag", "l_extendedprice")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    // each split must PARTITION its table incl. NULL dates (the rebuild
    // oracle keeps them); base side takes the nulls
    val (oa, ob) = (o.filter(col("o_orderdate") < split || col("o_orderdate").isNull),
      o.filter(col("o_orderdate") >= split))
    val (la, lb) = (l.filter(col("l_shipdate") < split || col("l_shipdate").isNull),
      l.filter(col("l_shipdate") >= split))
    val view = oa.join(la, Seq("o_orderkey"))            // maintained V = O₀⋈L₀
      .unionByName(ob.join(la, Seq("o_orderkey")))       // ΔO⋈L₀
      .unionByName(oa.join(lb, Seq("o_orderkey")))       // O₀⋈ΔL
      .unionByName(ob.join(lb, Seq("o_orderkey")))       // ΔO⋈ΔL
    view.groupBy(year(col("o_orderdate")).cast(LongType).as("order_year"),
        col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(round(col("l_extendedprice") * 100).cast(LongType)).as("rev_e2"))
      .orderBy(col("order_year").asc_nulls_first, col("l_returnflag").asc_nulls_first)
  }

  // full-rebuild spelling: hash-proves the delta algebra loses/duplicates nothing
  private val joinRefreshSql =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year, l_returnflag,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_e2
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY 1, 2
      |ORDER BY order_year NULLS FIRST, l_returnflag NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- er1
  /** Cross-source entity RESOLUTION — the stage AFTER fz1's pair
    * generation: link a corrupted second source back to the clean
    * registry, resolve each dirty record to at most ONE clean record,
    * and publish the match-quality census a production linkage job
    * ships with. Ground truth is planted so the census is checkable:
    * the dirty source is the registry with one name character
    * substituted at a key-dependent position and ids offset by 10⁹.
    *
    * Design decisions the census then measures:
    *  - Blocking runs on the perturbation-IMMUNE attributes
    *    (nationkey, floor(acctbal)) — the production pattern: block on
    *    reliable columns, fuzzy-match the noisy one. That makes the
    *    candidate stage a plain shuffle EQUI-join (both sides corpus-
    *    sized, never broadcast, never all-pairs): block count grows
    *    with data, block size stays O(1), so candidates stay linear at
    *    100 TB.
    *  - Resolution is a bounded argmin per dirty record — MIN over the
    *    packed integer dist·10¹⁰ + clean_id (exact in both engines,
    *    deterministic tie-break toward the smaller id), no window, no
    *    collect.
    *  - The census reports per segment: candidates, matched, CORRECT
    *    (resolved to the planted twin), and integer precision/recall —
    *    the ann11 recall-audit posture applied to linkage.
    */
  private val ErMaxDist = 2L

  private def entityResolve(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val clean = c.select(
      col("c_custkey").as("clean_id"), col("c_name").as("name"),
      col("c_nationkey").as("nat"),
      floor(col("c_acctbal")).cast(LongType).as("bal"))
    val dirty = c
      .select(
        (col("c_custkey") + lit(1000000000L)).as("dirty_id"),
        TwinCorruption.name().as("dname"),
        col("c_nationkey").as("nat"),
        floor(col("c_acctbal")).cast(LongType).as("bal"),
        col("c_mktsegment").as("seg"))
    val resolved = clean.join(dirty, Seq("nat", "bal"))
      // thresholded levenshtein — the banded decision, exact distance
      // when ≤ τ (the packed argmin still sees the true distance)
      .withColumn("dist",
        levenshtein(col("name"), col("dname"), ErMaxDist.toInt).cast(LongType))
      .filter(col("dist") =!= -1L)
      .groupBy("dirty_id")
      .agg(
        count(lit(1)).as("n_cand"),
        min(col("dist") * lit(10000000000L) + col("clean_id")).as("best"))
    dirty.join(resolved, Seq("dirty_id"), "left")
      .groupBy(col("seg"))
      .agg(
        count(lit(1)).as("n_dirty"),
        sum(coalesce(col("n_cand"), lit(0L))).as("n_candidates"),
        sum(when(col("best").isNotNull, 1L).otherwise(0L)).as("n_matched"),
        sum(when(pmod(col("best"), lit(10000000000L)) === col("dirty_id") - lit(1000000000L),
          1L).otherwise(0L)).as("n_correct"))
      .select(col("seg"), col("n_dirty"), col("n_candidates"), col("n_matched"),
        col("n_correct"),
        expr("CASE WHEN n_matched = 0 THEN 0 ELSE (1000 * n_correct) DIV n_matched END")
          .as("precision_milli"),
        expr("(1000 * n_correct) DIV n_dirty").as("recall_milli"))
      .orderBy(col("seg").asc_nulls_first)
  }

  private val entityResolveSql =
    s"""WITH clean AS (
       |  SELECT c_custkey AS clean_id, c_name AS name, c_nationkey AS nat,
       |    CAST(floor(c_acctbal) AS BIGINT) AS bal
       |  FROM customer),
       |dirty AS (
       |  SELECT c_custkey + 1000000000 AS dirty_id,
       |    ${TwinCorruption.nameSql(0)} AS dname,
       |    c_nationkey AS nat, CAST(floor(c_acctbal) AS BIGINT) AS bal,
       |    c_mktsegment AS seg
       |  FROM customer),
       |resolved AS (
       |  SELECT d.dirty_id, CAST(COUNT(*) AS BIGINT) AS n_cand,
       |    MIN(CAST(levenshtein(c.name, d.dname) AS BIGINT) * 10000000000 + c.clean_id)
       |      AS best
       |  FROM clean c JOIN dirty d ON c.nat = d.nat AND c.bal = d.bal
       |  WHERE levenshtein(c.name, d.dname) <= $ErMaxDist
       |  GROUP BY d.dirty_id)
       |SELECT seg,
       |  CAST(COUNT(*) AS BIGINT) AS n_dirty,
       |  CAST(SUM(COALESCE(r.n_cand, 0)) AS BIGINT) AS n_candidates,
       |  CAST(SUM(CASE WHEN r.best IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       |  CAST(SUM(CASE WHEN r.best % 10000000000 = d.dirty_id - 1000000000
       |       THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |  CAST(CASE WHEN SUM(CASE WHEN r.best IS NOT NULL THEN 1 ELSE 0 END) = 0 THEN 0
       |       ELSE (1000 * SUM(CASE WHEN r.best % 10000000000 = d.dirty_id - 1000000000
       |                        THEN 1 ELSE 0 END))
       |            // SUM(CASE WHEN r.best IS NOT NULL THEN 1 ELSE 0 END) END AS BIGINT)
       |    AS precision_milli,
       |  CAST((1000 * SUM(CASE WHEN r.best % 10000000000 = d.dirty_id - 1000000000
       |                    THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS recall_milli
       |FROM dirty d LEFT JOIN resolved r USING (dirty_id)
       |GROUP BY seg
       |ORDER BY seg NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- er3
  /** Blocking-quality audit — the metrics that justify er1's blocking
    * choice, computed BEFORE any matcher runs (Christen's framework):
    * per scheme, PAIR COMPLETENESS (fraction of true twin pairs the
    * blocks keep together — recall's hard ceiling: a twin split across
    * blocks can never be matched) and REDUCTION RATIO (1 − candidates
    * ÷ all-pairs — the work the blocks save). Two schemes face off:
    * er1's perturbation-IMMUNE (nat, ⌊bal⌋) block, and the naive
    * name-prefix-12 block the perturbation breaks whenever the
    * substituted position falls inside the prefix (key-dependent
    * position 11+k%8, so k%8 ∈ {0,1} splits — PC lands near 750‰, the
    * measured cost of blocking on a noisy attribute).
    *
    * Scale posture — the audit itself must not do the work it grades:
    * candidates are counted as a BLOCK-CENSUS PRODUCT-SUM
    * (Σ_b cnt_clean(b)·cnt_dirty(b) over per-side aggregates), never a
    * materialized pair join; completeness is a per-ROW expression
    * (twin rows derive from one registry row, so co-blocking is a
    * same-row comparison). Two hash aggregates and a 2-row output, at
    * any scale.
    */
  private def blockingAudit(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    // the er1 fixture, restated: clean = registry; dirty = one char
    // substituted at position 11 + k%8; ids offset (unused here — the
    // twin test is same-row)
    val base = c.select(
      col("c_custkey").as("k"), col("c_name").as("name"),
      col("c_nationkey").as("nat"),
      floor(col("c_acctbal")).cast(LongType).as("bal"),
      TwinCorruption.name().as("dname"))
    def audit(scheme: String, cleanKey: Column, dirtyKey: Column): DataFrame = {
      val withKeys = base.select(col("k"), cleanKey.as("cb"), dirtyKey.as("db"))
      val nRows = withKeys.agg(count(lit(1)).as("n")).select(col("n"))
      val cBlocks = withKeys.groupBy(col("cb").as("b")).agg(count(lit(1)).as("nc"))
      val dBlocks = withKeys.groupBy(col("db").as("b")).agg(count(lit(1)).as("nd"))
      val cand = cBlocks.join(dBlocks, Seq("b"))
        .agg(coalesce(sum(col("nc") * col("nd")), lit(0L)).as("n_candidates"),
          count(lit(1)).as("n_blocks"))
      val pc = withKeys
        .agg(count(lit(1)).as("n_twins"),
          sum(when(col("cb") <=> col("db"), 1L).otherwise(0L)).as("n_coblocked"))
      cand.crossJoin(pc).crossJoin(nRows) // three one-row frames
        .select(
          lit(scheme).as("scheme"), col("n_blocks"), col("n_candidates"),
          expr("(1000 * n_coblocked) DIV n_twins").as("pair_completeness_milli"),
          expr("1000 - (1000 * n_candidates) DIV (n * n)").as("reduction_milli"))
    }
    audit("immune_nat_bal",
      concat_ws("|", col("nat"), col("bal")),
      concat_ws("|", col("nat"), col("bal")))
      .unionByName(audit("naive_name_prefix",
        substring(col("name"), 1, 12), substring(col("dname"), 1, 12)))
      .orderBy(col("scheme").asc_nulls_first)
  }

  private val blockingAuditSql =
    s"""WITH base AS (
      |  SELECT c_custkey AS k, c_name AS name, c_nationkey AS nat,
      |    CAST(floor(c_acctbal) AS BIGINT) AS bal,
      |    ${TwinCorruption.nameSql(0)} AS dname
      |  FROM customer),
      |k1 AS (SELECT k, concat_ws('|', nat, bal) AS cb, concat_ws('|', nat, bal) AS db
      |       FROM base),
      |k2 AS (SELECT k, substr(name, 1, 12) AS cb, substr(dname, 1, 12) AS db
      |       FROM base),
      |a1 AS (
      |  SELECT 'immune_nat_bal' AS scheme,
      |    CAST(COUNT(*) AS BIGINT) AS n_blocks,
      |    CAST(COALESCE(SUM(nc * nd), 0) AS BIGINT) AS n_candidates
      |  FROM (SELECT cb AS b, COUNT(*) AS nc FROM k1 GROUP BY cb) c
      |  JOIN (SELECT db AS b, COUNT(*) AS nd FROM k1 GROUP BY db) d USING (b)),
      |a2 AS (
      |  SELECT 'naive_name_prefix' AS scheme,
      |    CAST(COUNT(*) AS BIGINT) AS n_blocks,
      |    CAST(COALESCE(SUM(nc * nd), 0) AS BIGINT) AS n_candidates
      |  FROM (SELECT cb AS b, COUNT(*) AS nc FROM k2 GROUP BY cb) c
      |  JOIN (SELECT db AS b, COUNT(*) AS nd FROM k2 GROUP BY db) d USING (b)),
      |p1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_twins,
      |         CAST(SUM(CASE WHEN cb = db THEN 1 ELSE 0 END) AS BIGINT) AS n_coblocked
      |       FROM k1),
      |p2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_twins,
      |         CAST(SUM(CASE WHEN cb = db THEN 1 ELSE 0 END) AS BIGINT) AS n_coblocked
      |       FROM k2),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base)
      |SELECT scheme, n_blocks, n_candidates,
      |  CAST((1000 * n_coblocked) // n_twins AS BIGINT) AS pair_completeness_milli,
      |  CAST(1000 - (1000 * n_candidates) // (n.n * n.n) AS BIGINT) AS reduction_milli
      |FROM (SELECT a1.*, p1.* FROM a1, p1
      |      UNION ALL SELECT a2.*, p2.* FROM a2, p2), n
      |ORDER BY scheme NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- er2
  /** Golden-record survivorship — the full MDM shape er1 feeds:
    * THREE sources (the registry plus two independently corrupted
    * feeds, each with one name character substituted at a different
    * key-dependent position), pairwise candidate edges under er1's
    * blocking, connected components over the match graph
    * ([[graft.operators.ConnectedComponents]], dd7's kernel), then
    * per-cluster ELECTION: the minimum id survives (registry ids sort
    * first, so a cluster containing its registry row elects it), and
    * the census reports how survivorship went per segment — full
    * triples recovered, singletons left behind, and how many clusters
    * elected a REGISTRY golden record vs a corrupted one.
    *
    * Scale posture (r15 VERDICT #3): candidate edges go through
    * [[graft.operators.AdaptiveBlocker]] — exact-duplicate contraction
    * plus segment sub-split of oversized blocks — because the plain
    * (nat, bal) equi-join went ~quadratic at sf1 on the copy-replicated
    * corpus (block-key cardinality constant while rows grow; avg
    * occupancy 10.3, 23.0 s — BASELINE.md round-15 ledger). Contraction
    * makes the candidate join scale with DISTINCT names per block, so
    * N-way replication costs N in the contraction aggregate instead of
    * N² in the pair join, and the blocker is invisible in the result:
    * every candidate passes the same exact levenshtein verify, and
    * contracting lev-0 classes preserves connected components exactly.
    * Components run dd7's per-sweep-checkpointed label propagation at
    * REP level, sweep count bounded by the match-graph diameter; the
    * census is one aggregate over the cluster frame. Nothing quadratic,
    * nothing collected.
    */
  private val AdaptiveBlockBound = 64

  private def goldenRecord(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    def source(k: Int, shift: Int): DataFrame = c
      .select(
        (col("c_custkey") + lit(k * 1000000000L)).as("id"),
        (if (k == 0) col("c_name") else TwinCorruption.name(shift.toLong)).as("name"),
        col("c_nationkey").as("nat"),
        floor(col("c_acctbal")).cast(LongType).as("bal"),
        col("c_mktsegment").as("seg"))
    val all = source(0, 0).unionByName(source(1, 0)).unionByName(source(2, 3))
    val (edges, classes) = graft.operators.AdaptiveBlocker.levEdges(
      all, Seq("nat", "bal"), "id", "name", ErMaxDist.toInt, AdaptiveBlockBound)
    val cc = graft.operators.ConnectedComponents.run(edges)
    // expansion: rows inherit their (block, name) class's component —
    // one join against the contracted vocabulary, not a per-id map.
    // LEFT join + coalesce(…, id): a row with a NULL key never matches
    // the equality join (the blocker's documented contract) and must
    // surface as its own singleton cluster, exactly as the plain
    // equi-join spelling treated it (r16 review #2)
    val classLabel = classes
      .join(cc.select(col("node").as("rep"), col("cluster")), Seq("rep"), "left")
      .select(col("nat"), col("bal"), col("name"),
        coalesce(col("cluster"), col("rep")).as("cluster"))
    val labeled = all.join(classLabel, Seq("nat", "bal", "name"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("id")))
    val clusters = labeled.groupBy("cluster")
      .agg(count(lit(1)).as("size"), min(col("id")).as("golden"))
    val goldenRows = labeled.select(col("id").as("golden"), col("seg"))
    // r19 opt (VERDICT r18 #5): the census join planned SortMergeJoin —
    // both inputs sit behind aggregates/joins whose size estimates blow
    // past the planner's shuffled-hash conditions, so the session-wide
    // preferSortMergeJoin=false never fired here. The hint pins the
    // build side to `clusters`: one NARROW row (cluster, size, golden —
    // 3 longs) per cluster, so the per-partition build is |clusters| /
    // shuffle-partitions rows at ANY scale — the bounded-build SHJ
    // posture, not a local[32] constant. goldenRows stays the probe
    // side (row grain, never built).
    clusters.hint("shuffle_hash").join(goldenRows, Seq("golden"))
      .groupBy("seg")
      .agg(
        sum(col("size")).as("n_records"),
        count(lit(1)).as("n_clusters"),
        sum(when(col("size") === 3L, 1L).otherwise(0L)).as("n_triples"),
        sum(when(col("size") === 1L, 1L).otherwise(0L)).as("n_singletons"),
        sum(when(col("golden") < 1000000000L, 1L).otherwise(0L)).as("golden_from_registry"))
      .orderBy(col("seg").asc_nulls_first)
  }

  private val goldenRecordSql =
    s"""WITH RECURSIVE src AS (
       |  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nat,
       |    CAST(floor(c_acctbal) AS BIGINT) AS bal, c_mktsegment AS seg
       |  FROM customer
       |  UNION ALL
       |  SELECT c_custkey + 1000000000,
       |    ${TwinCorruption.nameSql(0)},
       |    c_nationkey, CAST(floor(c_acctbal) AS BIGINT), c_mktsegment
       |  FROM customer
       |  UNION ALL
       |  SELECT c_custkey + 2000000000,
       |    ${TwinCorruption.nameSql(3)},
       |    c_nationkey, CAST(floor(c_acctbal) AS BIGINT), c_mktsegment
       |  FROM customer),
       |pairs AS (
       |  SELECT x.id AS a, y.id AS b
       |  FROM src x JOIN src y ON x.nat = y.nat AND x.bal = y.bal
       |  WHERE x.id < y.id AND levenshtein(x.name, y.name) <= $ErMaxDist),
       |nodes AS (SELECT a AS node FROM pairs UNION SELECT b FROM pairs),
       |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
       |reach(node, lab) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT e.b AS node, r.lab FROM reach r JOIN edges e ON e.a = r.node),
       |cc AS (SELECT node AS id, MIN(lab) AS cluster FROM reach GROUP BY node),
       |labeled AS (
       |  SELECT s.id, s.seg, COALESCE(c.cluster, s.id) AS cluster
       |  FROM src s LEFT JOIN cc c ON s.id = c.id),
       |clusters AS (
       |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS size,
       |    CAST(MIN(id) AS BIGINT) AS golden
       |  FROM labeled GROUP BY cluster)
       |SELECT g.seg,
       |  CAST(SUM(cl.size) AS BIGINT) AS n_records,
       |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |  CAST(SUM(CASE WHEN cl.size = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_triples,
       |  CAST(SUM(CASE WHEN cl.size = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
       |  CAST(SUM(CASE WHEN cl.golden < 1000000000 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS golden_from_registry
       |FROM clusters cl JOIN labeled g ON cl.golden = g.id
       |GROUP BY g.seg
       |ORDER BY g.seg NULLS FIRST""".stripMargin

  override val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "er1_entity_resolution" -> (entityResolve _),
    "er3_blocking_audit" -> (blockingAudit _),
    "er2_golden_record" -> (goldenRecord _),
    "inc1_agg_refresh" -> (aggRefresh _),
    "inc2_join_refresh" -> (joinRefresh _),
    "cdc5_scd2_tombstones" -> (scd2Tombstones _),
    "fz1_fuzzy_join" -> (fuzzyJoin _),
    "cdc3_scd2_history" -> (scd2History _),
    "cdc4_scd2_merge" -> (scd2MergeIncremental _),
    "cdc6_snapshot_diff" -> (snapshotDiff _),
    "cdc7_asof_snapshot" -> (asofSnapshot _),
    "cdc1_merge_upsert" -> (mergeUpsert _),
    "cdc2_latest_per_key" -> (latestPerKey _),
    "opt1_window_dedup" -> (firstPerKeyWindow _))

  override val oracle: Map[String, String] = Map(
    "fz1_fuzzy_join" -> fuzzyJoinSql,
    "cdc5_scd2_tombstones" -> scd2TombstonesSql,
    "er1_entity_resolution" -> entityResolveSql,
    "er3_blocking_audit" -> blockingAuditSql,
    "er2_golden_record" -> goldenRecordSql,
    "inc1_agg_refresh" -> aggRefreshSql,
    "inc2_join_refresh" -> joinRefreshSql,
    "cdc3_scd2_history" -> scd2HistorySql,
    // cdc4's oracle IS the full rebuild: hash-proves merge ≡ rebuild
    "cdc4_scd2_merge" -> scd2HistorySql,
    "cdc6_snapshot_diff" -> snapshotDiffSql,
    "cdc7_asof_snapshot" -> asofSnapshotSql,
    "cdc1_merge_upsert" -> mergeUpsertSql,
    "cdc2_latest_per_key" -> latestPerKeySql,
    "opt1_window_dedup" -> firstPerKeyWindowSql)
}
