package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Parity operators from SURVEY.md §2, re-expressed over the TESTDATA
  * tables so the DuckDB oracle can differentially verify each one.
  *
  * Float-determinism rule used throughout: SUM over doubles is
  * order-dependent, so any summed measure is quantized to integer units
  * per row (`round(x*100)` — exact for the 2-decimal measures) and
  * summed as BIGINT; derived doubles come from ONE identically-spelled
  * division at the end. (Decimal sums are also order-independent, but
  * their conversion back to double is not identically rounded across
  * engines once sums grow — the integer spelling has no such edge.)
  * Per-row double arithmetic (products, divisions) is
  * IEEE-deterministic and needs no such treatment.
  *
  * Every query ends in a total ORDER BY (unique key last) with explicit
  * null ordering, so row order can't flip the comparison. Under `count()`
  * (the bench path) Catalyst's EliminateSorts removes these sorts, so they
  * cost nothing at benchmark time.
  */
object Parity extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  /** Exact 2-decimal value → integer 1e-2 units (see q01 scale note). */
  private def e2(c: Column): Column = round(c * 100).cast(LongType)

  // ---------------------------------------------------------------- q01
  // §2.8 D1 + groupBy aggregation (TPC-H Q1 shape): the engine's headline
  // scan+aggregate. Partial (map-side) aggregation + single shuffle on the
  // 2-value group key; at 100 TB this stays 2-stage with tiny exchange.
  private def q01(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      // Every measure is an exact 2-decimal value, so the sums are pure
      // integers: qty/price in 1e-2 units, disc_price in 1e-4
      // (cents × (100−disc%)), charge in 1e-6. Decimal-sum-to-double
      // spelling diverged from DuckDB by one ulp once sums crossed ~2^31
      // at sf0.1 (decimal→double conversion is not identically rounded
      // in both engines); integer sums cannot. avg_qty derives from the
      // exact integer sum with one identically-spelled double division.
      .agg(
        sum(e2(col("l_quantity"))).as("sum_qty_e2"),
        sum(e2(col("l_extendedprice"))).as("sum_base_price_e2"),
        sum(e2(col("l_extendedprice")) * (lit(100L) - e2(col("l_discount")))).as("sum_disc_price_e4"),
        sum(e2(col("l_extendedprice")) * (lit(100L) - e2(col("l_discount")))
          * (lit(100L) + e2(col("l_tax")))).as("sum_charge_e6"),
        (sum(e2(col("l_quantity"))).cast(DoubleType) / count(lit(1)).cast(DoubleType) / lit(100.0))
          .as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private val q01Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_e2,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_e2,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
      |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_price_e4,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
      |           * (100 - CAST(round(l_discount * 100) AS BIGINT))
      |           * (100 + CAST(round(l_tax * 100) AS BIGINT))) AS BIGINT) AS sum_charge_e6,
      |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0 AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- scan/project
  // §2.3 P1 (projection) + P2 (bulk rename) + scalar upper. Column pruning
  // must reach the parquet scan (ReadSchema: 3 of 6 columns).
  private def scanProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(
        col("p_partkey").as("part_id"),
        col("p_name").as("part_name"),
        upper(col("p_brand")).as("brand"))
      .orderBy(col("part_id").asc_nulls_first)

  private val scanProjectSql =
    """SELECT p_partkey AS part_id, p_name AS part_name, upper(p_brand) AS brand
      |FROM part ORDER BY part_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- filters
  // §2.4 F1: equality filter (ref get_local_hub slice, yougile_etl_dag.py:102).
  private def filterEq(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("lang") === lit("de"))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy(col("doc_id").asc_nulls_first)

  private val filterEqSql =
    "SELECT doc_id, lang, source, n_chars FROM documents WHERE lang = 'de' ORDER BY doc_id NULLS FIRST"

  // §2.4 F2: IN-list allow-list filter (ref :135).
  private def filterIn(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation")
      .filter(col("n_name").isin("NATION_3", "NATION_7", "NATION_21"))
      .select("n_nationkey", "n_name", "n_regionkey")
      .orderBy(col("n_nationkey").asc_nulls_first)

  private val filterInSql =
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |WHERE n_name IN ('NATION_3','NATION_7','NATION_21') ORDER BY n_nationkey NULLS FIRST""".stripMargin

  // §2.4 F3: null-tolerant inequality — `deleted != True` must KEEP null
  // rows (SURVEY.md §1.3 trap #2). Spark: null-safe equality negated.
  private def filterNullSafe(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("deleted",
        when(col("o_orderstatus") === "F", lit(true))
          .when(col("o_orderstatus") === "O", lit(false))
          .otherwise(lit(null).cast(BooleanType)))
      .filter(!(col("deleted") <=> lit(true)))
      .select("o_orderkey", "o_orderstatus", "deleted")
      .orderBy(col("o_orderkey").asc_nulls_first)

  private val filterNullSafeSql =
    """WITH flagged AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderstatus = 'F' THEN TRUE
      |         WHEN o_orderstatus = 'O' THEN FALSE
      |         ELSE NULL END AS deleted
      |  FROM orders)
      |SELECT o_orderkey, o_orderstatus, deleted FROM flagged
      |WHERE deleted IS DISTINCT FROM TRUE ORDER BY o_orderkey NULLS FIRST""".stripMargin

  // §2.4 F4: data-quality probe — referenced-but-missing dimension rows
  // (ref alarm at :241-244). Count-filter instead of materializing.
  private def dqProbe(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val richSupp = t(s, dir, "supplier")
      .filter(col("s_acctbal") > lit(5000.0))
      .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
    // supplier scales with SF — no broadcast hint; AQE picks the strategy
    // (broadcast at small SF, shuffle join at scale) from runtime sizes.
    li.join(richSupp, Seq("l_suppkey"), "left")
      .agg(
        count(when(col("s_name").isNull, lit(1))).as("missing_dim_rows"),
        count(lit(1)).as("total_rows"))
  }

  private val dqProbeSql =
    """SELECT COUNT(*) FILTER (WHERE s.s_name IS NULL) AS missing_dim_rows,
      |       COUNT(*) AS total_rows
      |FROM lineitem l
      |LEFT JOIN (SELECT s_suppkey, s_name FROM supplier WHERE s_acctbal > 5000.0) s
      |  ON l.l_suppkey = s.s_suppkey""".stripMargin

  // ---------------------------------------------------------------- joins
  // §2.5 J1: small-dim left equi-join → broadcast hash join, no shuffle.
  private def joinBroadcast(s: SparkSession, dir: String): DataFrame = {
    val nation = t(s, dir, "nation")
    val region = t(s, dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
    nation.join(broadcast(region), Seq("n_regionkey"), "left")
      .select("n_nationkey", "n_name", "r_name")
      .orderBy(col("n_nationkey").asc_nulls_first)
  }

  private val joinBroadcastSql =
    """SELECT n_nationkey, n_name, r_name
      |FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
      |ORDER BY n_nationkey NULLS FIRST""".stripMargin

  // §2.5 J3–J9 analog: chained left equi-joins, fact vs 5 dims. orders is
  // fact-sized (shuffle join, AQE decides); the rest broadcast. This is the
  // shape of the reference's 7-join mart assembly (:270-277).
  private def joinChain(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val ord = t(s, dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey")
    val cust = t(s, dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    val nat = t(s, dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
    val reg = t(s, dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
    val supp = t(s, dir, "supplier").withColumnRenamed("s_suppkey", "l_suppkey")
    val part = t(s, dir, "part").withColumnRenamed("p_partkey", "l_partkey")
    // Only nation/region are bounded dims → explicit broadcast is safe at
    // any SF. customer/supplier/part scale linearly with the data: forcing
    // them broadcast is a driver OOM at 100× (VERDICT r01), so AQE chooses
    // their join strategy from runtime statistics instead.
    li.join(ord, Seq("l_orderkey"), "left")
      .join(cust, Seq("o_custkey"), "left")
      .join(broadcast(nat), Seq("c_nationkey"), "left")
      .join(broadcast(reg), Seq("n_regionkey"), "left")
      .join(supp, Seq("l_suppkey"), "left")
      .join(part, Seq("l_partkey"), "left")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("o_orderdate"), col("c_name"),
        col("n_name").as("cust_nation"), col("r_name").as("cust_region"),
        col("s_name").as("supp_name"), col("p_name").as("part_name"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
      // total order needs every column (equal rows are then interchangeable)
      .orderBy(Seq("l_orderkey", "l_linenumber", "revenue", "part_name", "supp_name",
        "o_orderdate", "c_name", "cust_nation", "cust_region").map(col(_).asc_nulls_first): _*)
  }

  private val joinChainSql =
    """SELECT l.l_orderkey, l.l_linenumber, o.o_orderdate, c.c_name,
      |  n.n_name AS cust_nation, r.r_name AS cust_region,
      |  s.s_name AS supp_name, p.p_name AS part_name,
      |  l.l_extendedprice * (CAST(1 AS DOUBLE) - l.l_discount) AS revenue
      |FROM lineitem l
      |LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      |LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
      |LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |LEFT JOIN part p ON l.l_partkey = p.p_partkey
      |ORDER BY l.l_orderkey NULLS FIRST, l.l_linenumber NULLS FIRST, revenue NULLS FIRST,
      |  part_name NULLS FIRST, supp_name NULLS FIRST, o.o_orderdate NULLS FIRST,
      |  c.c_name NULLS FIRST, cust_nation NULLS FIRST, cust_region NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- explode
  // §2.6 E1: explode array-of-struct (ref sticker states, :153).
  private def explodeStruct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), explode(array(
        struct(lit("status").as("k"), col("o_orderstatus").as("v")),
        struct(lit("priority").as("k"), col("o_orderpriority").as("v")))).as("kv"))
      .select(col("o_orderkey"), col("kv.k").as("attr"), col("kv.v").as("val"))
      .orderBy(col("o_orderkey").asc_nulls_first, col("attr").asc_nulls_first)

  private val explodeStructSql =
    """SELECT o_orderkey, kv.k AS attr, kv.v AS val FROM (
      |  SELECT o_orderkey,
      |    unnest([{'k':'status','v':o_orderstatus},{'k':'priority','v':o_orderpriority}]) AS kv
      |  FROM orders)
      |ORDER BY o_orderkey NULLS FIRST, attr NULLS FIRST""".stripMargin

  // §2.6 E2: explode_outer — rows with a NULL array must survive as one
  // null row (SURVEY.md §1.3 trap #3; a plain explode silently drops them).
  private def explodeOuter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .withColumn("words",
        when(col("p_size") < 10, lit(null).cast(ArrayType(StringType)))
          .otherwise(split(col("p_name"), " ")))
      .select(col("p_partkey"), explode_outer(col("words")).as("word"))
      .orderBy(col("p_partkey").asc_nulls_first, col("word").asc_nulls_first)

  private val explodeOuterSql =
    """SELECT p_partkey, unnest(CASE WHEN words IS NULL OR len(words) = 0
      |                              THEN [CAST(NULL AS VARCHAR)] ELSE words END) AS word
      |FROM (SELECT p_partkey,
      |        CASE WHEN p_size < 10 THEN NULL ELSE string_split(p_name, ' ') END AS words
      |      FROM part)
      |ORDER BY p_partkey NULLS FIRST, word NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- union / distinct
  // §2.7 U1: union-all of portions (ref pd.concat accumulation, :217).
  private def unionAll(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_totalprice"), lit("urgent").as("bucket"))
    val big = o.filter(col("o_totalprice") > lit(300000.0))
      .select(col("o_orderkey"), col("o_totalprice"), lit("big").as("bucket"))
    urgent.unionByName(big).orderBy(col("bucket").asc_nulls_first, col("o_orderkey").asc_nulls_first)
  }

  private val unionAllSql =
    """SELECT * FROM (
      |  SELECT o_orderkey, o_totalprice, 'urgent' AS bucket FROM orders WHERE o_orderpriority = '1-URGENT'
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice, 'big' AS bucket FROM orders WHERE o_totalprice > 300000.0)
      |ORDER BY bucket NULLS FIRST, o_orderkey NULLS FIRST""".stripMargin

  // §2.8 D1: full-row distinct (ref drop_duplicates, :319).
  private def distinctRows(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_tax")
      .distinct()
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first, col("l_tax").asc_nulls_first)

  private val distinctRowsSql =
    """SELECT DISTINCT l_returnflag, l_linestatus, l_tax FROM lineitem
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, l_tax NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- scalars
  // §2.9 C1 (literal strip) + C2 (split→2 cols, null on missing part) +
  // C3 (coalesce of alternative slots). DuckDB list index is 1-based vs
  // Spark getItem 0-based; getItem past the end is null in both.
  private def scalarStrings(s: SparkSession, dir: String): DataFrame =
    // wide: four split/translate per row × full table; single-task on the
    // unsplit testdata layout (r8 driver sweep: 3.4×)
    graft.Tables.wide(s, dir, "orders")
      .withColumn("slot1", when(col("o_orderkey") % 2 === 0, col("o_orderstatus")))
      .withColumn("slot2", when(col("o_orderkey") % 2 =!= 0, col("o_orderstatus")))
      .select(
        col("o_orderkey"),
        translate(col("o_orderpriority"), " ", "").as("prio_nospace"),
        get(split(col("o_orderpriority"), "-"), lit(0)).as("prio_rank"),
        get(split(col("o_orderpriority"), "-"), lit(1)).as("prio_label"),
        get(split(col("o_orderpriority"), "-"), lit(2)).as("prio_missing"),
        coalesce(col("slot1"), col("slot2")).as("status_coalesced"))
      .orderBy(col("o_orderkey").asc_nulls_first)

  private val scalarStringsSql =
    """SELECT o_orderkey,
      |  replace(o_orderpriority, ' ', '') AS prio_nospace,
      |  string_split(o_orderpriority, '-')[1] AS prio_rank,
      |  string_split(o_orderpriority, '-')[2] AS prio_label,
      |  string_split(o_orderpriority, '-')[3] AS prio_missing,
      |  coalesce(CASE WHEN o_orderkey % 2 = 0 THEN o_orderstatus END,
      |           CASE WHEN o_orderkey % 2 <> 0 THEN o_orderstatus END) AS status_coalesced
      |FROM orders ORDER BY o_orderkey NULLS FIRST""".stripMargin

  // §2.9 C4 (dd.MM.yyyy parse) + C5 (epoch-ms → date) + C6.
  private def scalarDates(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "dd.MM.yyyy").as("date_str"),
        to_date(date_format(col("o_orderdate"), "dd.MM.yyyy"), "dd.MM.yyyy").as("parsed_date"),
        to_date(timestamp_millis(unix_millis(col("o_orderdate")))).as("date_from_ms"),
        col("o_orderdate").cast(DateType).as("order_date"))
      .orderBy(col("o_orderkey").asc_nulls_first)

  private val scalarDatesSql =
    """SELECT o_orderkey,
      |  strftime(o_orderdate, '%d.%m.%Y') AS date_str,
      |  CAST(strptime(strftime(o_orderdate, '%d.%m.%Y'), '%d.%m.%Y') AS DATE) AS parsed_date,
      |  CAST(epoch_ms(epoch_ms(o_orderdate)) AS DATE) AS date_from_ms,
      |  CAST(o_orderdate AS DATE) AS order_date
      |FROM orders ORDER BY o_orderkey NULLS FIRST""".stripMargin

  // §2.9 C7: empty-string → null → double (ref quantity casts, :294-295).
  // The string round-trips through CAST in both engines (shortest-roundtrip
  // double repr), so the final doubles are bit-identical.
  private def scalarCast(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("qty_str",
        when(col("o_orderstatus") === "P", lit("")).otherwise(col("o_totalprice").cast(StringType)))
      .select(
        col("o_orderkey"),
        when(col("qty_str") === "", lit(null).cast(DoubleType))
          .otherwise(col("qty_str").cast(DoubleType)).as("qty"))
      .orderBy(col("o_orderkey").asc_nulls_first)

  private val scalarCastSql =
    """SELECT o_orderkey,
      |  CASE WHEN qty_str = '' THEN NULL ELSE CAST(qty_str AS DOUBLE) END AS qty
      |FROM (SELECT o_orderkey,
      |        CASE WHEN o_orderstatus = 'P' THEN '' ELSE CAST(o_totalprice AS VARCHAR) END AS qty_str
      |      FROM orders)
      |ORDER BY o_orderkey NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- c9
  // Beyond-reference scalar coverage: the date-arithmetic battery (add
  // days, month truncation, last_day, calendar fields, day diff). One
  // cross-engine traps pinned here: DuckDB's dayofweek is 0-based-Sunday
  // while Spark's is 1-based-Sunday — both sides use the ISO numbering
  // (Monday=1..Sunday=7; Spark weekday()+1 = DuckDB isodow) — and
  // DuckDB's date_trunc('month', ts) returns DATE where Spark keeps
  // TIMESTAMP, so the oracle casts it back to TIMESTAMP explicitly.
  private def scalarDateArith(s: SparkSession, dir: String): DataFrame = {
    val d = to_date(col("o_orderdate"))
    t(s, dir, "orders").filter(col("o_orderkey") % 25 === 0)
      .select(
        col("o_orderkey"),
        d.as("order_d"),
        date_add(d, 30).as("due_d"),
        date_trunc("month", col("o_orderdate")).as("order_month"),
        last_day(d).as("month_end"),
        year(d).cast(LongType).as("y"),
        month(d).cast(LongType).as("m"),
        (weekday(d) + 1).cast(LongType).as("dow_iso"),
        datediff(to_date(lit("1999-01-01")), d).cast(LongType).as("days_to_99"))
      .orderBy(col("o_orderkey").asc_nulls_first)
  }

  private val scalarDateArithSql =
    """SELECT o_orderkey,
      |  CAST(o_orderdate AS DATE) AS order_d,
      |  CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_d,
      |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(year(o_orderdate) AS BIGINT) AS y,
      |  CAST(month(o_orderdate) AS BIGINT) AS m,
      |  CAST(isodow(o_orderdate) AS BIGINT) AS dow_iso,
      |  CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS BIGINT) AS days_to_99
      |FROM orders WHERE o_orderkey % 25 = 0
      |ORDER BY o_orderkey NULLS FIRST""".stripMargin

  override val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c9_date_arith" -> (scalarDateArith _),
    "q01_pricing_summary" -> (q01 _),
    "p1_scan_project" -> (scanProject _),
    "f1_filter_eq" -> (filterEq _),
    "f2_filter_in" -> (filterIn _),
    "f3_filter_null_safe" -> (filterNullSafe _),
    "f4_dq_probe" -> (dqProbe _),
    "j1_join_broadcast" -> (joinBroadcast _),
    "j4_join_chain" -> (joinChain _),
    "e1_explode_struct" -> (explodeStruct _),
    "e2_explode_outer" -> (explodeOuter _),
    "u1_union_all" -> (unionAll _),
    "d1_distinct" -> (distinctRows _),
    "c1_scalar_strings" -> (scalarStrings _),
    "c4_scalar_dates" -> (scalarDates _),
    "c7_scalar_cast" -> (scalarCast _))

  override val oracle: Map[String, String] = Map(
    "c9_date_arith" -> scalarDateArithSql,
    "q01_pricing_summary" -> q01Sql,
    "p1_scan_project" -> scanProjectSql,
    "f1_filter_eq" -> filterEqSql,
    "f2_filter_in" -> filterInSql,
    "f3_filter_null_safe" -> filterNullSafeSql,
    "f4_dq_probe" -> dqProbeSql,
    "j1_join_broadcast" -> joinBroadcastSql,
    "j4_join_chain" -> joinChainSql,
    "e1_explode_struct" -> explodeStructSql,
    "e2_explode_outer" -> explodeOuterSql,
    "u1_union_all" -> unionAllSql,
    "d1_distinct" -> distinctRowsSql,
    "c1_scalar_strings" -> scalarStringsSql,
    "c4_scalar_dates" -> scalarDatesSql,
    "c7_scalar_cast" -> scalarCastSql)
}
