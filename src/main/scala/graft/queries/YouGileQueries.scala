package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.yougile._
import graft.yougile.Model._

/** Gate entries for the real YouGile pipeline: JSON fixture pages →
  * paginated client → explicit-schema ingestion → transform → the exact
  * 22-column `cdm_tasks` mart of `sql/ddl.sql`, built with [[Pipeline]]'s
  * own builders.
  *
  * These queries run on the committed fixture set (Fixtures.jsonDir), not
  * the TESTDATA star schema — the `sfDir` argument is unused: the YouGile
  * surface is an API, and its scale story is the driver-side fetch
  * (SURVEY.md §7.3). The DuckDB oracle reads the parquet *mirrors* of the
  * same universe, so CORRECTNESS differentially verifies the whole
  * transform: joins, explodes, map extraction, scalar casts, dedup.
  */
object YouGileQueries extends QueryModule {

  private def pq(name: String) = s"${Fixtures.parquetDir}/$name/*.parquet"

  /** Shared oracle fragments — the outer-unnest guard and the sticker
    * map extraction appear in several oracles; single definitions keep
    * them from drifting apart.
    */
  private val unnestSubtasks =
    """unnest(CASE WHEN t.subtasks IS NULL OR len(t.subtasks) = 0
      |                THEN [CAST(NULL AS VARCHAR)] ELSE t.subtasks END) AS subtask_id""".stripMargin
  private def sticker(key: String) = s"map_extract(o.stickers, '$key')[1]"
  private val allowedBoardsSql =
    Fixtures.allowedBoards.map(b => "'" + b.replace("'", "''") + "'").mkString(",")

  private val cfg = YouGileConfig.fixture
  private def client = new JsonFixtureClient(Fixtures.jsonDir)
  private def source(s: SparkSession) = new YouGileSource(s, client, cfg)

  // ------------------------------------------------------------ entries
  private def ygBrdClmn(s: SparkSession, dir: String): DataFrame =
    Pipeline.brdClmn(source(s), cfg).orderBy(col("column_id").asc_nulls_first)

  private val ygBrdClmnSql =
    s"""SELECT c.boardId AS board_id, c.title AS column_name, c.id AS column_id,
       |  b.title AS board_name, b.projectId AS project_id
       |FROM read_parquet('${pq("columns")}') c
       |LEFT JOIN read_parquet('${pq("boards")}') b ON c.boardId = b.id
       |WHERE b.title IN ($allowedBoardsSql)
       |ORDER BY column_id NULLS FIRST""".stripMargin

  private def ygHubStates(s: SparkSession, dir: String): DataFrame =
    Transform.stickerStates(source(s).stickers())
      .orderBy(col("str_sticker_id").asc_nulls_first, col("str_sticker_state_id").asc_nulls_first)

  private val ygHubStatesSql =
    s"""SELECT id AS str_sticker_id, name AS str_sticker_name,
       |  st.id AS str_sticker_state_id, st.name AS str_sticker_state_name
       |FROM (
       |  SELECT id, name,
       |    unnest(CASE WHEN states IS NULL OR len(states) = 0
       |                THEN [CAST(NULL AS STRUCT(id VARCHAR, name VARCHAR))]
       |                ELSE states END) AS st
       |  FROM read_parquet('${pq("stickers")}'))
       |ORDER BY str_sticker_id NULLS FIRST, str_sticker_state_id NULLS FIRST""".stripMargin

  /** `Pipeline.assembled` over the fixtures' brd_clmn. */
  private def assembled(s: SparkSession): DataFrame = {
    val src = source(s)
    Pipeline.assembled(src, Pipeline.brdClmn(src, cfg))
  }

  /** The contract×lot grain before hub enrichment (§3.2's output). */
  private def ygAssembly(s: SparkSession, dir: String): DataFrame =
    assembled(s)
      .select("task_id", "subtask_id", "subtask_name", "deleted", "quantity_plan", "loading_dates")
      .orderBy(Seq("task_id", "subtask_id", "subtask_name", "deleted", "quantity_plan", "loading_dates")
        .map(col(_).asc_nulls_first): _*)

  private val ygAssemblySql = {
    val St = Stickers
    s"""WITH contracts AS (
       |  SELECT t.id AS task_id,
       |    $unnestSubtasks
       |  FROM read_parquet('${pq("contracts")}') t),
       |subt AS (
       |  SELECT o.title AS subtask_name, o.id AS subtask_id, o.deleted,
       |    ${sticker(St.QuantityPlan)} AS quantity_plan,
       |    coalesce(${sticker(St.LoadingDates1)},
       |             ${sticker(St.LoadingDates2)}) AS loading_dates
       |  FROM read_parquet('${pq("subtask_objects")}') o)
       |SELECT task_id, subtask_id, subtask_name, deleted, quantity_plan, loading_dates
       |FROM contracts LEFT JOIN subt USING (subtask_id)
       |WHERE deleted IS DISTINCT FROM TRUE
       |ORDER BY task_id NULLS FIRST, subtask_id NULLS FIRST, subtask_name NULLS FIRST,
       |  deleted NULLS FIRST, quantity_plan NULLS FIRST, loading_dates NULLS FIRST""".stripMargin
  }

  /** F4 on the real pipeline: rows whose lot was never fetched. */
  private def ygDqLost(s: SparkSession, dir: String): DataFrame =
    Transform.lostSubtasks(assembled(s))
      .agg(count(lit(1)).as("lost_rows"))

  private val ygDqLostSql = {
    s"""WITH contracts AS (
       |  SELECT t.id AS task_id,
       |    $unnestSubtasks
       |  FROM read_parquet('${pq("contracts")}') t),
       |subt AS (
       |  SELECT o.title AS subtask_name, o.id AS subtask_id, o.deleted
       |  FROM read_parquet('${pq("subtask_objects")}') o)
       |SELECT COUNT(*) AS lost_rows
       |FROM contracts LEFT JOIN subt USING (subtask_id)
       |WHERE deleted IS DISTINCT FROM TRUE
       |  AND subtask_id IS NOT NULL AND subtask_name IS NULL""".stripMargin
  }

  /** The flagship: full extract+transform to the 22-column mart. */
  private def ygMart(s: SparkSession, dir: String): DataFrame =
    Pipeline.mart(source(s), cfg, Fixtures.runTs)
      .orderBy(martColumns.map(col(_).asc_nulls_first): _*)

  private val ygMartSql = {
    val St = Stickers
    s"""WITH brd_clmn AS (
       |  SELECT c.id AS column_id, c.title AS column_name, b.title AS board_name
       |  FROM read_parquet('${pq("columns")}') c
       |  LEFT JOIN read_parquet('${pq("boards")}') b ON c.boardId = b.id
       |  WHERE b.title IN ($allowedBoardsSql)),
       |states AS (
       |  SELECT name AS hub_name, st.id AS state_id, st.name AS state_name
       |  FROM (SELECT name, unnest(states) AS st FROM read_parquet('${pq("stickers")}'))),
       |contracts AS (
       |  SELECT t.title AS task_name, t."timestamp" AS ts_ms, t.id AS task_id,
       |    $unnestSubtasks,
       |    t.columnId AS column_id,
       |    ${sticker(St.ContractStatus).replace("o.stickers", "t.stickers")} AS contract_status_state_id
       |  FROM read_parquet('${pq("contracts")}') t),
       |subt AS (
       |  SELECT o.title AS subtask_name, o.id AS subtask_id, o.deleted,
       |    ${sticker(St.DeliveryTerm)} AS delivery_term_state_id,
       |    ${sticker(St.LotStatus)} AS lot_status_state_id,
       |    ${sticker(St.LoadingPlace)} AS loading_place_state_id,
       |    ${sticker(St.ShipName)} AS ship_name,
       |    ${sticker(St.QuantityPlan)} AS quantity_plan,
       |    ${sticker(St.QuantityFact)} AS quantity_fact,
       |    coalesce(${sticker(St.DischargingPlace1)},
       |             ${sticker(St.DischargingPlace2)}) AS discharging_place,
       |    coalesce(${sticker(St.LoadingDates1)},
       |             ${sticker(St.LoadingDates2)}) AS loading_dates,
       |    ${sticker(St.ProvPaid)} AS prov_paid_state_id,
       |    ${sticker(St.FinalPaid)} AS final_paid_state_id,
       |    o.deadline_start_ms, o.deadline_end_ms
       |  FROM read_parquet('${pq("subtask_objects")}') o),
       |asm AS (
       |  SELECT * FROM contracts LEFT JOIN subt USING (subtask_id)
       |  WHERE deleted IS DISTINCT FROM TRUE),
       |final AS (
       |  SELECT
       |    TIMESTAMP '${Fixtures.runTs}' AS loaded_ts,
       |    task_name, task_id,
       |    CAST(epoch_ms(ts_ms) AS DATE) AS task_creation_dt,
       |    board_name, column_name,
       |    cs.state_name AS task_status,
       |    subtask_id, subtask_name,
       |    ls.state_name AS subtask_status,
       |    CASE WHEN quantity_plan = '' THEN NULL ELSE CAST(quantity_plan AS DOUBLE) END AS quantity_plan,
       |    CASE WHEN quantity_fact = '' THEN NULL ELSE CAST(quantity_fact AS DOUBLE) END AS quantity_fact,
       |    dt.state_name AS delivery_term,
       |    lp.state_name AS loading_place,
       |    CAST(strptime(string_split(replace(loading_dates, ' ', ''), '-')[1], '%d.%m.%Y') AS DATE) AS loading_start_date,
       |    CAST(strptime(string_split(replace(loading_dates, ' ', ''), '-')[2], '%d.%m.%Y') AS DATE) AS loading_end_date,
       |    ship_name, discharging_place,
       |    CAST(epoch_ms(deadline_start_ms) AS DATE) AS deadline_start_date,
       |    CAST(epoch_ms(deadline_end_ms) AS DATE) AS deadline_end_date,
       |    pp.state_name AS prov_paid,
       |    fp.state_name AS final_paid
       |  FROM asm
       |  LEFT JOIN brd_clmn USING (column_id)
       |  LEFT JOIN (SELECT state_id, state_name FROM states WHERE hub_name = 'Статус сделки') cs
       |    ON asm.contract_status_state_id = cs.state_id
       |  LEFT JOIN (SELECT state_id, state_name FROM states WHERE hub_name = 'Базис поставки') dt
       |    ON asm.delivery_term_state_id = dt.state_id
       |  LEFT JOIN (SELECT state_id, state_name FROM states WHERE hub_name = 'Статус лота') ls
       |    ON asm.lot_status_state_id = ls.state_id
       |  LEFT JOIN (SELECT state_id, state_name FROM states WHERE hub_name = 'Место погрузки') lp
       |    ON asm.loading_place_state_id = lp.state_id
       |  LEFT JOIN (SELECT state_id, state_name FROM states WHERE hub_name = 'Provisional paid') pp
       |    ON asm.prov_paid_state_id = pp.state_id
       |  LEFT JOIN (SELECT state_id, state_name FROM states WHERE hub_name = 'Final paid') fp
       |    ON asm.final_paid_state_id = fp.state_id)
       |SELECT DISTINCT * FROM final
       |ORDER BY ${martColumns.map(_ + " NULLS FIRST").mkString(", ")}""".stripMargin
  }

  // --------------------------------------------------------- yg_dsv2
  /** Every board column's contracts, fetched column by column through
    * [[YouGileSource.contracts]] — the frame [[Transform.contractsPrepared]]
    * reads, over all columns rather than the tracked boards' only.
    */
  private def allTasks(s: SparkSession): DataFrame = {
    val src = source(s)
    val columnIds = src.columns().select("id").collect().map(_.getString(0))
      .filter(_ != null).distinct.toSeq
    src.contracts(columnIds)
  }

  /** The per-column contract fetch, decoded by Spark's json reader against
    * the §1.4 contract schema. Tracked-board filtering stays a left-semi
    * join against brd_clmn — the allow-list is deploy config, not a source
    * property. The oracle reads the committed parquet mirror of the
    * per-column contract fetch, so the hash proves the pagination and the
    * JSON decode of the pipeline's own reader.
    */
  private def ygDsv2Tasks(s: SparkSession, dir: String): DataFrame = {
    val tasks = allTasks(s)
    val bc = Pipeline.brdClmn(source(s), cfg).select(col("column_id"))
    tasks.join(bc, tasks("columnId") === bc("column_id"), "left_semi")
      .select(col("id"), col("title"), col("timestamp"), col("columnId"),
        // coalesce: a NULL count reaches pandas as float64 and breaks
        // the driver's dtype-sensitive hash (-1 = "array absent")
        coalesce(size(col("subtasks")), lit(-1)).as("n_subtasks"),
        col("stickers")(Model.Stickers.ShipName).as("ship"))
      .orderBy(col("id").asc_nulls_first)
  }

  private val ygDsv2TasksSql =
    s"""SELECT id, title, "timestamp", columnId,
       |  coalesce(len(subtasks), -1) AS n_subtasks,
       |  map_extract(stickers, '${Model.Stickers.ShipName}')[1] AS ship
       |FROM read_parquet('${pq("contracts")}')
       |ORDER BY id NULLS FIRST""".stripMargin

  /** Per-column task census over every column's contracts: COUNT(*) and
    * null-skipping COUNT(subtasks) per board column (PipelineSpec checks
    * the fixtures hold a null `subtasks`, so the null skip is exercised).
    * The oracle restates the census over the committed parquet mirror of
    * the same fixture universe.
    */
  private def ygDsv2Census(s: SparkSession, dir: String): DataFrame = {
    allTasks(s)
      .groupBy("columnId")
      .agg(count(lit(1)).as("n_tasks"), count(col("subtasks")).as("n_with_subtasks"))
      .orderBy(col("columnId").asc_nulls_first)
  }

  private val ygDsv2CensusSql =
    s"""SELECT columnId, COUNT(*) AS n_tasks,
       |  CAST(COUNT(subtasks) AS BIGINT) AS n_with_subtasks
       |FROM read_parquet('${pq("contracts")}')
       |GROUP BY columnId
       |ORDER BY columnId NULLS FIRST""".stripMargin

  /** Per-column timestamp statistics over every column's contracts:
    * MIN/MAX/SUM(timestamp) and COUNT(*) per board column. The oracle
    * restates the stats over the committed parquet mirror.
    */
  private def ygDsv2Stats(s: SparkSession, dir: String): DataFrame = {
    allTasks(s)
      .groupBy("columnId")
      .agg(min(col("timestamp")).as("min_ts"), max(col("timestamp")).as("max_ts"),
        sum(col("timestamp")).as("sum_ts"), count(lit(1)).as("n_tasks"))
      .orderBy(col("columnId").asc_nulls_first)
  }

  private val ygDsv2StatsSql =
    s"""SELECT columnId, MIN(timestamp) AS min_ts, MAX(timestamp) AS max_ts,
       |  CAST(SUM(timestamp) AS BIGINT) AS sum_ts, COUNT(*) AS n_tasks
       |FROM read_parquet('${pq("contracts")}')
       |GROUP BY columnId
       |ORDER BY columnId NULLS FIRST""".stripMargin

  // --------------------------------------------------------- yg_jdbc
  /** K1 under the ORACLE, not just the Derby spec (r17 VERDICT #7):
    * load the fixtures with `Pipeline.run` through the production
    * [[graft.sinks.JdbcSink]] (batched `df.write.jdbc` append — the
    * reference's `insert_rows` replacement, `dags/yougile_etl_dag.py:
    * 325-333`) into a REAL embedded-Derby database, read it back over
    * JDBC, and hash the round-tripped rows against the same DuckDB
    * oracle as `yg_mart`. A silent type-mapping loss anywhere on the
    * write path (string→CLOB, date/timestamp/double DDL, null
    * handling, batching) breaks the hash; a read-back whose row count
    * differs from the count `Pipeline.run` returns fails the entry.
    *
    * The read-back is pinned with an eager localCheckpoint so the
    * in-memory database can be dropped before the frame is consumed —
    * safe at mart grain (the mart is bounded dimensional output; a
    * 100 TB deployment reads the warehouse table directly, it does not
    * re-read through the driver).
    */
  /** One in-memory Derby database SHELL per context: Derby's
    * database bootstrap (catalog creation, lock manager, log setup) is
    * a ~0.3–0.5 s fixed driver-side cost that the per-call UUID
    * database paid on EVERY run (r19 opt, VERDICT r18 #6). The shell
    * holds no query state between calls — each round-trip writes and
    * reads its own uniquely-named TABLE and drops it after the
    * read-back is pinned, so every run still computes the mart from
    * the fixtures, pushes every row through JDBC, and reads every row
    * back. Keyed on the context's scratch root ([[graft.Scratch]]): a
    * new context boots afresh.
    */
  private val jdbcShellDb = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ygJdbcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val db = jdbcShellDb.computeIfAbsent(graft.Scratch.root(s, "yg_jdbc", ""),
      _ => s"memory:graftgate${java.util.UUID.randomUUID().toString.replace("-", "")}")
    val url = s"jdbc:derby:$db;create=true"
    val table = s"cdm_tasks_${java.util.UUID.randomUUID().toString.replace("-", "").take(12)}"
    // partitioning A/B (guide §6, ledgered in OPTIMIZATION_r19.md):
    // funneling the bounded mart through one connection measured
    // NEUTRAL-to-worse at fixture grain (repartition(1) ~1.39 s,
    // coalesce(1) ~1.45 s vs ~1.25 s partition-parallel), so neither
    // this entry nor JdbcSink forces a partition count. AQE picks it:
    // `Pipeline.run` persists nothing, so its write runs over a dedup
    // exchange that AQE has coalesced to a few partitions at hourly scale.
    val rows = Pipeline.run(s, client, cfg, Fixtures.runTs,
      new graft.sinks.JdbcSink(url, table, "app", "app"), graft.sinks.NoopAlerter)
    val back = s.read.format("jdbc")
      .option("url", url).option("dbtable", table).load()
      .localCheckpoint()
    // the read-back is pinned (localCheckpoint above) — release the
    // run's table; the empty shell stays for the next run's bootstrap.
    // Cleanup only: a failed DROP leaks one table into the shell and
    // must not fail an entry whose result is already in hand.
    try {
      val conn = java.sql.DriverManager.getConnection(url)
      try { conn.createStatement().execute(s"DROP TABLE $table"); () }
      finally conn.close()
    } catch {
      case e: java.sql.SQLException =>
        System.err.println(s"[yg_jdbc_roundtrip] DROP TABLE $table failed, continuing: ${e.getMessage}")
    }
    val readBack = back.count()
    require(readBack == rows,
      s"yg_jdbc_roundtrip: Pipeline.run loaded $rows rows, $readBack read back")
    back.orderBy(martColumns.map(col(_).asc_nulls_first): _*)
  }

  override val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "yg_jdbc_roundtrip" -> (ygJdbcRoundtrip _),
    "yg_dsv2_census" -> (ygDsv2Census _),
    "yg_dsv2_stats" -> (ygDsv2Stats _),
    "yg_dsv2_tasks" -> (ygDsv2Tasks _),
    "yg_brd_clmn" -> (ygBrdClmn _),
    "yg_hub_states" -> (ygHubStates _),
    "yg_assembly" -> (ygAssembly _),
    "yg_dq_lost" -> (ygDqLost _),
    "yg_mart" -> (ygMart _))

  override val oracle: Map[String, String] = Map(
    // the round-trip must reproduce the mart exactly — same oracle
    "yg_jdbc_roundtrip" -> ygMartSql,
    "yg_dsv2_census" -> ygDsv2CensusSql,
    "yg_dsv2_stats" -> ygDsv2StatsSql,
    "yg_dsv2_tasks" -> ygDsv2TasksSql,
    "yg_brd_clmn" -> ygBrdClmnSql,
    "yg_hub_states" -> ygHubStatesSql,
    "yg_assembly" -> ygAssemblySql,
    "yg_dq_lost" -> ygDqLostSql,
    "yg_mart" -> ygMartSql)
}
