package graft.yougile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.yougile.Model._

/** The transform half of the pipeline (SURVEY.md §3.2–§3.3): every stage
  * is a function of DataFrames, so each is unit-testable and the fact side
  * is one lazy Catalyst plan (lineage replaces the reference's XCom
  * hand-offs).
  *
  * Scale notes: boards, columns and the sticker dictionaries are bounded
  * dimensional data of a few dozen rows. `brdClmn` and `mart` collect them
  * while they build the plan and apply them as map lookups in a
  * projection, where the reference merges (`:101-106`, `:249-322`); each
  * lookup fails on an id bound to two different values, which a left join
  * would have turned into repeated rows. contracts ⋈ subtasks is the one
  * fact-fact join (both sides grow with the workspace) → left to the
  * planner and AQE. The final full-row dropDuplicates is parity-mandated
  * (ref `:319`) and is the single wide exchange.
  */
object Transform {

  /** `pairs` as a lookup map, keyed by the first element; null keys are
    * dropped, since a null never matches a join key. A left join against
    * `pairs` repeats a row per match, so a key bound to two different
    * values fails, naming `what` and the key; an exact repeat is kept once,
    * as the mart's full-row dedup would.
    */
  private def lookupMap[V](what: String, pairs: Seq[(String, V)]): Map[String, V] =
    pairs.filter(_._1 != null).groupMap(_._1)(_._2).map { case (key, values) =>
      val distinct = values.distinct
      require(distinct.size == 1,
        s"$what id $key maps to ${distinct.size} different values: ${distinct.mkString(", ")}")
      key -> distinct.head
    }

  /** brd_clmn (ref `:109-138`): rename, J1 columns⟕boards as a lookup of
    * the collected boards, F2 board allow-list filter.
    */
  def brdClmn(boards: DataFrame, columns: DataFrame, allowed: Seq[String]): DataFrame = {
    val board = element_at(
      typedLit(lookupMap("board", boards.select("id", "title", "projectId").collect().toSeq
        .map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))))),
      col("boardId"))
    columns
      .select(
        col("boardId").as("board_id"),
        col("title").as("column_name"),
        col("id").as("column_id"),
        board.getField("_1").as("board_name"),
        board.getField("_2").as("project_id"))
      .filter(col("board_name").isin(allowed: _*))
  }

  /** Exploded sticker-state table (ref `:141-162`): E1 explode of the
    * states array, then native struct-field access (P5/C8 — the reference
    * needs row lambdas only because pandas lacks struct columns).
    *
    * `explode_outer` keeps dictionaries with an empty/missing states array
    * as a null row; the reference would crash there (`.get` on NaN,
    * `:156`) — graceful-null is the deliberate divergence, and such rows
    * never match a hub name anyway.
    */
  def stickerStates(stickers: DataFrame): DataFrame =
    stickers
      .select(
        col("id").as("str_sticker_id"),
        col("name").as("str_sticker_name"),
        explode_outer(col("states")).as("state"))
      .select(
        col("str_sticker_id"),
        col("str_sticker_name"),
        col("state.id").as("str_sticker_state_id"),
        col("state.name").as("str_sticker_state_name"))

  /** Contract prep (ref `:220-222`): P2 rename, sticker-map extraction
    * (`stickers.<uuid>` dotted column in pandas → native map access here),
    * E2 `explode_outer(subtasks)` — contracts with no lots MUST survive as
    * one null-subtask row (§1.3 trap #3).
    */
  def contractsPrepared(contracts: DataFrame): DataFrame =
    contracts.select(
      col("title").as("task_name"),
      col("timestamp").as("task_creation_ms"),
      col("id").as("task_id"),
      explode_outer(col("subtasks")).as("subtask_id"),
      col("columnId").as("column_id"),
      element_at(col("stickers"), Stickers.ContractStatus).as("contract_status_state_id"))

  private def sticker(key: String): Column = element_at(col("stickers"), key)

  /** Subtask prep (ref `:225-234`): rename + 13 sticker-slot extractions +
    * C3 coalesce of the paired alternative slots (slot-1 wins, like
    * pandas `fillna`).
    */
  def subtasksPrepared(objects: DataFrame): DataFrame =
    objects.select(
      col("title").as("subtask_name"),
      col("id").as("subtask_id"),
      col("deleted"),
      sticker(Stickers.DeliveryTerm).as("delivery_term_state_id"),
      sticker(Stickers.LotStatus).as("lot_status_state_id"),
      sticker(Stickers.LoadingPlace).as("loading_place_state_id"),
      sticker(Stickers.ShipName).as("ship_name"),
      sticker(Stickers.QuantityPlan).as("quantity_plan"),
      sticker(Stickers.QuantityFact).as("quantity_fact"),
      coalesce(sticker(Stickers.DischargingPlace1), sticker(Stickers.DischargingPlace2))
        .as("discharging_place"),
      coalesce(sticker(Stickers.LoadingDates1), sticker(Stickers.LoadingDates2))
        .as("loading_dates"),
      sticker(Stickers.ProvPaid).as("prov_paid_state_id"),
      sticker(Stickers.FinalPaid).as("final_paid_state_id"),
      col("deadline.startDate").as("deadline_start_ms"),
      col("deadline.deadline").as("deadline_end_ms"))

  /** Assembly (ref `:237-239`): J2 left join on subtask_id (fact-fact →
    * AQE-chosen strategy), then F3 — `deleted != True` must KEEP null
    * `deleted` rows (§1.3 trap #2): null-safe equality, negated.
    */
  def taskAssembly(contractsPrep: DataFrame, subtasksPrep: DataFrame): DataFrame =
    contractsPrep
      .join(subtasksPrep, Seq("subtask_id"), "left")
      .filter(!(col("deleted") <=> lit(true)))

  /** F4 data-loss predicate (ref `:241-244`): a lot referenced by a
    * contract but absent from the global fetch. Holds on assembled and
    * on mart rows alike; `Pipeline.run` alerts when any mart row matches.
    */
  val lostLot: Column = col("subtask_id").isNotNull && col("subtask_name").isNull

  /** The F4 probe's rows (the `yg_dq_lost` gate entry). */
  def lostSubtasks(assembled: DataFrame): DataFrame = assembled.filter(lostLot)

  /** Mart build (ref `prepare_result_df_for_insert`, `:249-322`): the
    * brd_clmn lookup and the six hub lookups (ref `get_local_hub`,
    * `:101-106`), the run-timestamp stamp (P4, parsed in the session TZ),
    * the C1..C7 scalar block, the exact 22-column projection, and the
    * parity-mandated full-row dedup. `brdClmn` and `states` are collected
    * here, while the plan is built.
    */
  def mart(assembled: DataFrame, brdClmn: DataFrame, states: DataFrame, runTs: String): DataFrame = {
    val column = element_at(
      typedLit(lookupMap("column",
        brdClmn.select("column_id", "board_name", "project_id", "column_name").collect().toSeq
          .map(r => r.getString(0) -> ((r.getString(1), r.getString(2), r.getString(3)))))),
      col("column_id"))

    // (hub dictionary, state-id column, output column)
    val hubs = Seq(
      (HubNames.ContractStatus, "contract_status_state_id", "task_status"),
      (HubNames.DeliveryTerm, "delivery_term_state_id", "delivery_term"),
      (HubNames.LotStatus, "lot_status_state_id", "subtask_status"),
      (HubNames.LoadingPlace, "loading_place_state_id", "loading_place"),
      (HubNames.ProvPaid, "prov_paid_state_id", "prov_paid"),
      (HubNames.FinalPaid, "final_paid_state_id", "final_paid"))
    val hubStates = states
      .filter(col("str_sticker_name").isin(hubs.map(_._1): _*))
      .select("str_sticker_name", "str_sticker_state_id", "str_sticker_state_name")
      .collect().toSeq.groupMap(_.getString(0))(r => r.getString(1) -> r.getString(2))
    val hubLookups = hubs.map { case (hub, stateId, out) =>
      out -> element_at(
        typedLit(lookupMap(s"hub '$hub' state", hubStates.getOrElse(hub, Nil))), col(stateId))
    }

    val emptyToDouble: Column => Column = c =>
      when(c === "", lit(null).cast(DoubleType)).otherwise(c.cast(DoubleType)) // C7

    val strippedDates = translate(col("loading_dates"), " ", "") // C1

    assembled
      .withColumns((hubLookups ++ Seq(
        "board_name" -> column.getField("_1"),
        "column_name" -> column.getField("_3"))).toMap)
      .withColumn("loaded_ts", to_timestamp(lit(runTs))) // P4/C6
      .withColumn("loading_start_date",
        to_date(get(split(strippedDates, "-"), lit(0)), "dd.MM.yyyy")) // C2+C4
      .withColumn("loading_end_date",
        to_date(get(split(strippedDates, "-"), lit(1)), "dd.MM.yyyy"))
      .withColumn("task_creation_dt", to_date(timestamp_millis(col("task_creation_ms")))) // C5
      .withColumn("deadline_start_date", to_date(timestamp_millis(col("deadline_start_ms"))))
      .withColumn("deadline_end_date", to_date(timestamp_millis(col("deadline_end_ms"))))
      .withColumn("quantity_plan", emptyToDouble(col("quantity_plan")))
      .withColumn("quantity_fact", emptyToDouble(col("quantity_fact")))
      .select(martColumns.map(col): _*) // P1: the 22-column ddl.sql layout
      .dropDuplicates() // D1 (ref :319)
  }
}
