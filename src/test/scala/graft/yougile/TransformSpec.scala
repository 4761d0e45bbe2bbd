package graft.yougile

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.yougile.Model._

/** Golden micro-universe through every transform stage: two contracts and
  * four lots crafted to hit each scalar/join/null path, with the exact
  * expected 22-column rows asserted.
  */
class TransformSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val boards = Seq(
    Board("b1", "Доска Трейдинг А", "p1"),
    Board("b2", "Чужая доска", "p1"))
  private val columns = Seq(
    BoardColumn("c1", "В работе", "b1"),
    BoardColumn("c2", "Left out", "b2"))
  private val dicts = Seq(
    StickerDict(Stickers.ContractStatus, HubNames.ContractStatus, Seq(StickerState("st1", "Активная"))),
    StickerDict(Stickers.LotStatus, HubNames.LotStatus, Seq(StickerState("ls1", "В пути"))),
    StickerDict("zzz", "Заметки", Nil)) // empty states

  // contract k1: two lots (one deleted, one live); k2: no subtasks at all
  private val contracts = Seq(
    TaskObj("k1", "Сделка 1", 1704067200000L, Some("c1"), Some(Seq("l1", "l2")), None,
      Some(Map(Stickers.ContractStatus -> "st1")), None),
    TaskObj("k2", "Сделка 2", 1704067200000L, Some("c1"), None, None, Some(Map.empty), None))

  private val lots = Seq(
    TaskObj("l1", "Лот 1", 0L, None, None, Some(false),
      Some(Map(
        Stickers.LotStatus -> "ls1",
        Stickers.QuantityPlan -> "1200.5",
        Stickers.QuantityFact -> "",
        Stickers.DischargingPlace1 -> "Rotterdam",
        Stickers.DischargingPlace2 -> "IGNORED",
        Stickers.LoadingDates2 -> " 01.02.2024 - 15.03.2024 ")),
      Some(Deadline(Some(1704067200000L), None))),
    TaskObj("l2", "Лот 2", 0L, None, None, Some(true), None, None), // deleted → dropped
    TaskObj("l3", "Лот 3", 0L, None, None, None,
      Some(Map(Stickers.LoadingDates1 -> "05.06.2024")), None)) // single date

  private def mart: DataFrame = mart(boards, columns, dicts)

  private def mart(boards: Seq[Board], columns: Seq[BoardColumn], dicts: Seq[StickerDict]): DataFrame = {
    val bc = Transform.brdClmn(boards.toDF(), columns.toDF(), Seq("Доска Трейдинг А"))
    val states = Transform.stickerStates(dicts.toDS().toDF())
    val assembled = Transform.taskAssembly(
      Transform.contractsPrepared(contracts.toDS().toDF()),
      Transform.subtasksPrepared(lots.toDS().toDF()))
    Transform.mart(assembled, bc, states, "2026-01-01 00:00:00")
  }

  test("brd_clmn drops columns of non-allow-listed boards") {
    val bc = Transform.brdClmn(boards.toDF(), columns.toDF(), Seq("Доска Трейдинг А"))
    assert(bc.select("column_id").as[String].collect().toSeq == Seq("c1"))
  }

  test("stickerStates explodes states and keeps empty dictionaries as a null row") {
    val st = Transform.stickerStates(dicts.toDS().toDF())
    assert(st.count() == 3)
    val noteRow = st.filter($"str_sticker_name" === "Заметки").collect().head
    assert(noteRow.isNullAt(2) && noteRow.isNullAt(3))
  }

  test("mart: full 22-column layout in ddl.sql order") {
    assert(mart.columns.toSeq == Model.martColumns)
  }

  test("mart: deleted lot dropped, live lot and lot-less contract kept with exact scalar values") {
    val rows = mart.orderBy(asc_nulls_first("subtask_id")).collect()
    assert(rows.length == 2) // l1 row + k2's null-lot row; l2 deleted
    val byId = mart.collect().map(r => Option(r.getAs[String]("subtask_id")) -> r).toMap

    val l1 = byId(Some("l1"))
    assert(l1.getAs[String]("task_name") == "Сделка 1")
    assert(l1.getAs[String]("board_name") == "Доска Трейдинг А")
    assert(l1.getAs[String]("task_status") == "Активная") // hub join
    assert(l1.getAs[String]("subtask_status") == "В пути")
    assert(l1.getAs[Double]("quantity_plan") == 1200.5) // C7 parse
    assert(l1.isNullAt(l1.fieldIndex("quantity_fact"))) // "" → null
    assert(l1.getAs[String]("discharging_place") == "Rotterdam") // slot1 wins
    assert(l1.getAs[java.sql.Date]("loading_start_date").toString == "2024-02-01") // C1+C2+C4
    assert(l1.getAs[java.sql.Date]("loading_end_date").toString == "2024-03-15")
    assert(l1.getAs[java.sql.Date]("task_creation_dt").toString == "2024-01-01") // C5
    assert(l1.getAs[java.sql.Date]("deadline_start_date").toString == "2024-01-01")
    assert(l1.isNullAt(l1.fieldIndex("deadline_end_date")))
    assert(l1.getAs[java.sql.Timestamp]("loaded_ts").toString == "2026-01-01 00:00:00.0")

    val k2 = byId(None) // explode_outer survivor
    assert(k2.getAs[String]("task_name") == "Сделка 2")
    assert(k2.isNullAt(k2.fieldIndex("subtask_name")))
    assert(k2.isNullAt(k2.fieldIndex("task_status"))) // status key missing
  }

  test("single-date loading_dates yields null end date") {
    val prep = Transform.subtasksPrepared(lots.toDS().toDF())
      .filter($"subtask_id" === "l3").collect().head
    assert(prep.getAs[String]("loading_dates") == "05.06.2024")
    // through the mart scalar block: join l3 via a synthetic contract
    val c = Seq(TaskObj("k3", "C", 0L, Some("c1"), Some(Seq("l3")), None, None, None))
    val assembled = Transform.taskAssembly(
      Transform.contractsPrepared(c.toDS().toDF()),
      Transform.subtasksPrepared(lots.toDS().toDF()))
    val bc = Transform.brdClmn(boards.toDF(), columns.toDF(), Seq("Доска Трейдинг А"))
    val row = Transform.mart(assembled, bc, Transform.stickerStates(dicts.toDS().toDF()),
      "2026-01-01 00:00:00").collect().head
    assert(row.getAs[java.sql.Date]("loading_start_date").toString == "2024-06-05")
    assert(row.isNullAt(row.fieldIndex("loading_end_date")))
  }

  test("duplicate subtask references collapse via dropDuplicates (D1)") {
    val c = Seq(TaskObj("k4", "C", 0L, Some("c1"), Some(Seq("l1", "l1")), None, None, None))
    val assembled = Transform.taskAssembly(
      Transform.contractsPrepared(c.toDS().toDF()),
      Transform.subtasksPrepared(lots.toDS().toDF()))
    assert(assembled.count() == 2)
    val bc = Transform.brdClmn(boards.toDF(), columns.toDF(), Seq("Доска Трейдинг А"))
    val m = Transform.mart(assembled, bc, Transform.stickerStates(dicts.toDS().toDF()),
      "2026-01-01 00:00:00")
    assert(m.count() == 1)
  }

  test("lostSubtasks flags referenced-but-missing lots only") {
    val c = Seq(TaskObj("k5", "C", 0L, Some("c1"), Some(Seq("l1", "GONE")), None, None, None))
    val assembled = Transform.taskAssembly(
      Transform.contractsPrepared(c.toDS().toDF()),
      Transform.subtasksPrepared(lots.toDS().toDF()))
    val lost = Transform.lostSubtasks(assembled).select("subtask_id").as[String].collect()
    assert(lost.toSeq == Seq("GONE"))
  }

  test("a hub state id bound to two names fails the mart, naming the hub and the id") {
    val clash = StickerDict("zz2", HubNames.LotStatus, Seq(StickerState("ls1", "Выгружен")))
    val e = intercept[IllegalArgumentException](mart(boards, columns, dicts :+ clash))
    assert(e.getMessage.contains(HubNames.LotStatus) && e.getMessage.contains("ls1"), e.getMessage)
  }

  test("a board or column id bound to two different rows fails, naming the id") {
    val board = intercept[IllegalArgumentException](
      mart(boards :+ Board("b1", "Другое имя", "p1"), columns, dicts))
    assert(board.getMessage.contains("board id b1"), board.getMessage)
    val column = intercept[IllegalArgumentException](
      mart(boards, columns :+ BoardColumn("c1", "Готово", "b1"), dicts))
    assert(column.getMessage.contains("column id c1"), column.getMessage)
  }

  test("exact duplicate dimension rows give the same mart as without them") {
    def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val once = sorted(mart)
    assert(once.length == 2)
    assert(sorted(mart(boards ++ boards, columns ++ columns, dicts ++ dicts)) == once)
  }
}
