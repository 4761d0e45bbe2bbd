package graft.yougile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.yougile.Model._

/** The transform half of the pipeline (SURVEY.md §3.2–§3.3), pure
  * DataFrame → DataFrame so every stage is unit-testable and the whole
  * chain is one lazy Catalyst plan (lineage replaces the reference's XCom
  * hand-offs).
  *
  * Scale notes: boards/columns/sticker dictionaries/hubs are bounded
  * dimensional data → broadcast joins, by hint. contracts ⋈ subtasks is
  * the one fact-fact join (both sides grow with the workspace) → left to
  * AQE, shuffling on `subtask_id`. The final full-row dropDuplicates is
  * parity-mandated (ref `:319`) and is the single wide exchange.
  */
object Transform {

  /** brd_clmn (ref `:109-138`): rename, J1 columns⟕boards (broadcast —
    * bounded dims), F2 board allow-list filter.
    */
  def brdClmn(boards: DataFrame, columns: DataFrame, allowed: Seq[String]): DataFrame = {
    val b = boards.select(
      col("title").as("board_name"),
      col("projectId").as("project_id"),
      col("id").as("board_id"))
    val c = columns.select(
      col("title").as("column_name"),
      col("boardId").as("board_id"),
      col("id").as("column_id"))
    c.join(broadcast(b), Seq("board_id"), "left")
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

  /** get_local_hub (ref `:101-106`): F1 equality slice + P2 rename + P1
    * projection. Hubs are id→name lookups of at most a few dozen rows.
    */
  def localHub(states: DataFrame, hubName: String, stateIdCol: String, nameCol: String): DataFrame =
    states
      .filter(col("str_sticker_name") === hubName)
      .select(
        col("str_sticker_state_id").as(stateIdCol),
        col("str_sticker_state_name").as(nameCol))

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

  /** Mart build (ref `prepare_result_df_for_insert`, `:249-322`): 7
    * chained broadcast left joins (brd_clmn + six hubs), the run-timestamp
    * stamp (P4, parsed in the session TZ), the C1..C7 scalar block, the
    * exact 22-column projection, and the parity-mandated full-row dedup.
    */
  def mart(assembled: DataFrame, brdClmn: DataFrame, states: DataFrame, runTs: String): DataFrame = {
    val hubs: Seq[(DataFrame, String)] = Seq(
      localHub(states, HubNames.ContractStatus, "contract_status_state_id", "task_status") -> "contract_status_state_id",
      localHub(states, HubNames.DeliveryTerm, "delivery_term_state_id", "delivery_term") -> "delivery_term_state_id",
      localHub(states, HubNames.LotStatus, "lot_status_state_id", "subtask_status") -> "lot_status_state_id",
      localHub(states, HubNames.LoadingPlace, "loading_place_state_id", "loading_place") -> "loading_place_state_id",
      localHub(states, HubNames.ProvPaid, "prov_paid_state_id", "prov_paid") -> "prov_paid_state_id",
      localHub(states, HubNames.FinalPaid, "final_paid_state_id", "final_paid") -> "final_paid_state_id")

    val joined = hubs.foldLeft(assembled.join(broadcast(brdClmn), Seq("column_id"), "left")) {
      case (df, (hub, key)) => df.join(broadcast(hub), Seq(key), "left")
    }

    val emptyToDouble: Column => Column = c =>
      when(c === "", lit(null).cast(DoubleType)).otherwise(c.cast(DoubleType)) // C7

    val strippedDates = translate(col("loading_dates"), " ", "") // C1

    joined
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
