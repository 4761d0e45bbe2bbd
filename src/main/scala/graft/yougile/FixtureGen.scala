package graft.yougile

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.yougile.Model._

/** Deterministic YouGile API fixture generator (FIXTURES.md §A).
  *
  * Emits the same synthetic universe in two forms:
  *   - `json/` — paged API envelopes `{"paging":{"next":…},"content":[…]}`
  *     exactly as the reference consumes them (`dags/yougile_etl_dag.py:61-65`),
  *     one file per (method, column, offset); input for JsonFixtureClient.
  *   - `parquet/` — relational mirrors of what the extraction layer is
  *     *supposed* to deliver (post-pagination, post-server-side filters);
  *     input for the DuckDB oracle, so CORRECTNESS differentially verifies
  *     the whole transform half of the pipeline.
  *
  * Scenario coverage (all required by FIXTURES.md): multi-page sequences on
  * both fetch paths, an empty-content page, a board outside the allow-list,
  * a column with zero tasks, contracts with 0/1/N lots, a duplicated
  * subtask reference (pre-dedup duplicate row), contracts missing
  * `stickers` entirely, referenced-but-missing lots (fires the F4 alarm),
  * `deleted` true/false/absent lots, both alternative sticker slots for
  * discharging place and loading dates, single-date and stray-space
  * loading-date strings, empty-string quantities, and stale sticker state
  * ids that miss every hub row.
  */
object FixtureGen {

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(Fixtures.root)
    val u = build()
    writeJson(u, s"$root/json")
    writeParquet(u, s"$root/parquet")
    println(s"[fixtures] boards=${u.boards.size} columns=${u.columns.size} " +
      s"dicts=${u.dicts.size} contracts=${u.tracked.size} objects=${u.allObjects.size}")
  }

  /** Page sizes: contracts per-column at 50 (ref uses 1000, `:208`; small
    * pages exercise the pagination loop), global objects at 100 (the ref's
    * actual subtask page size, `:225`), dictionaries at 1000 (single page,
    * like the ref's boards/columns/stickers fetches).
    */
  val ContractPageLimit = 50
  val ObjectPageLimit = 100
  val DictPageLimit = 1000

  case class Universe(
      boards: Seq[Board],
      columns: Seq[BoardColumn],
      dicts: Seq[StickerDict],
      tracked: Seq[TaskObj], // contracts returned by the per-column fetches
      untracked: Seq[TaskObj], // contracts in non-allow-listed boards
      lots: Seq[TaskObj]) {
    /** Global includeDeleted=true fetch returns every task object. */
    def allObjects: Seq[TaskObj] = tracked ++ untracked ++ lots
  }

  private def uid(kind: Int, n: Int): String =
    f"$kind%08x-00$kind%02x-4000-8000-$n%012x"

  def build(): Universe = {
    val r = new java.util.Random(42)

    val boards = Seq(
      Board(uid(1, 0), "Доска Трейдинг А", uid(9, 0)),
      Board(uid(1, 1), "Доска Трейдинг Б", uid(9, 0)),
      Board(uid(1, 2), "Spot deals", uid(9, 1)),
      Board(uid(1, 3), "Архив", uid(9, 1))) // NOT in the allow-list

    // columns: index → (board, title); C2 has zero tasks; C6/C7 untracked
    val colDefs = Seq(
      (0, "Новые"), (0, "В работе"), (0, "Завершены"),
      (1, "Активные"), (1, "Закрытые"),
      (2, "Spot"),
      (3, "Старое"), (3, "Совсем старое"))
    val columns = colDefs.zipWithIndex.map { case ((b, t), i) =>
      BoardColumn(uid(2, i), t, boards(b).id)
    }

    def states(kind: Int, names: Seq[String]): Seq[StickerState] =
      names.zipWithIndex.map { case (n, i) => StickerState(uid(kind, i), n) }

    val contractStates = states(0x30, Seq("Активная", "Завершена", "Расторгнута"))
    val deliveryStates = states(0x31, Seq("FOB", "CIF", "DAP", "EXW"))
    val lotStates = states(0x32, Seq("Запланирован", "Погрузка", "В пути", "Доставлен"))
    val placeStates = states(0x33, Seq("Новороссийск", "Тамань", "Высоцк"))
    val provStates = states(0x34, Seq("Да", "Нет"))
    val finalStates = states(0x35, Seq("Да", "Нет", "Частично"))

    val dicts = Seq(
      StickerDict(Stickers.ContractStatus, HubNames.ContractStatus, contractStates),
      StickerDict(Stickers.DeliveryTerm, HubNames.DeliveryTerm, deliveryStates),
      StickerDict(Stickers.LotStatus, HubNames.LotStatus, lotStates),
      StickerDict(Stickers.LoadingPlace, HubNames.LoadingPlace, placeStates),
      StickerDict(Stickers.ProvPaid, HubNames.ProvPaid, provStates),
      StickerDict(Stickers.FinalPaid, HubNames.FinalPaid, finalStates),
      StickerDict(uid(0x3f, 0), "Менеджер", states(0x36, Seq("Иванов", "Петрова"))),
      StickerDict(uid(0x3f, 1), "Заметки", Nil)) // empty states array

    def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.size))
    def maybe[A](p: Double)(a: => A): Option[A] = if (r.nextDouble() < p) Some(a) else None
    def epochMs(): Long = 1704067200000L + (r.nextInt(540).toLong * 86400000L) + r.nextInt(86400000)
    def dateStr(): String = f"${1 + r.nextInt(28)}%02d.${1 + r.nextInt(12)}%02d.${2024 + r.nextInt(2)}"

    def loadingDates(): String = {
      val style = r.nextInt(10)
      if (style == 0) dateStr() // single date → null loading_end_date
      else {
        val (a, b) = (dateStr(), dateStr())
        r.nextInt(4) match { // stray spaces, stripped by C1
          case 0 => s"$a - $b"
          case 1 => s"$a-$b"
          case 2 => s" $a -$b"
          case _ => s"$a- $b "
        }
      }
    }

    var lotN = 0
    val lotBuf = scala.collection.mutable.ArrayBuffer.empty[TaskObj]
    def newLot(): TaskObj = {
      lotN += 1
      val stickers: Option[Map[String, String]] = maybe(0.95) {
        val m = Map.newBuilder[String, String]
        maybe(0.85)(if (r.nextDouble() < 0.05) uid(0xdd, 9) else pick(deliveryStates).id)
          .foreach(m += Stickers.DeliveryTerm -> _)
        maybe(0.90)(if (r.nextDouble() < 0.05) uid(0xdd, 8) else pick(lotStates).id)
          .foreach(m += Stickers.LotStatus -> _)
        maybe(0.80)(pick(placeStates).id).foreach(m += Stickers.LoadingPlace -> _)
        maybe(0.70)(s"MV ATLAS-${r.nextInt(90)}").foreach(m += Stickers.ShipName -> _)
        maybe(0.75)(if (r.nextDouble() < 0.10) "" else s"${1000 + r.nextInt(9000)}.${r.nextInt(10)}")
          .foreach(m += Stickers.QuantityPlan -> _)
        maybe(0.70)(if (r.nextDouble() < 0.10) "" else s"${1000 + r.nextInt(9000)}.${r.nextInt(10)}")
          .foreach(m += Stickers.QuantityFact -> _)
        r.nextInt(100) match { // alternative slots (C3)
          case n if n < 40 => m += Stickers.DischargingPlace1 -> pick(Seq("Rotterdam", "Стамбул", "Mersin"))
          case n if n < 65 => m += Stickers.DischargingPlace2 -> pick(Seq("Alexandria", "Бейрут"))
          case n if n < 75 =>
            m += Stickers.DischargingPlace1 -> "Rotterdam"
            m += Stickers.DischargingPlace2 -> "IGNORED-slot2" // slot1 wins (fillna)
          case _ =>
        }
        r.nextInt(100) match {
          case n if n < 45 => m += Stickers.LoadingDates1 -> loadingDates()
          case n if n < 70 => m += Stickers.LoadingDates2 -> loadingDates()
          case n if n < 80 =>
            m += Stickers.LoadingDates1 -> loadingDates()
            m += Stickers.LoadingDates2 -> loadingDates()
          case _ =>
        }
        maybe(0.60)(pick(provStates).id).foreach(m += Stickers.ProvPaid -> _)
        maybe(0.55)(pick(finalStates).id).foreach(m += Stickers.FinalPaid -> _)
        m.result()
      }
      val deleted = r.nextInt(100) match {
        case n if n < 8  => Some(true)
        case n if n < 50 => Some(false)
        case _           => None // absent in JSON — F3 must keep these rows
      }
      val deadline = r.nextInt(10) match {
        case n if n < 7 => Some(Deadline(Some(epochMs()), Some(epochMs())))
        case 7          => Some(Deadline(Some(epochMs()), None))
        case _          => None
      }
      val lot = TaskObj(uid(4, lotN), s"Лот $lotN", epochMs(), None, None, deleted, stickers, deadline)
      lotBuf += lot
      lot
    }

    var cN = 0
    def newContract(col: BoardColumn, kind: Int): TaskObj = {
      cN += 1
      val stickers: Option[Map[String, String]] = r.nextInt(100) match {
        case n if n < 5 => None // no stickers object at all
        case n if n < 12 => Some(Map.empty) // stickers present, status key missing
        case n if n < 17 => Some(Map(Stickers.ContractStatus -> uid(0xdd, 7))) // stale id
        case _ => Some(Map(Stickers.ContractStatus -> pick(contractStates).id))
      }
      val subtasks: Option[Seq[String]] = kind match {
        case 0 => None // field absent → explode_outer null row
        case 1 => Some(Nil) // empty list → explode_outer null row
        case 2 => { val x = newLot().id; Some(Seq(x, x)) } // duplicate → D1
        case 3 => Some(Seq(newLot().id, uid(0xee, cN))) // one missing lot → F4 alarm
        case _ => Some(Seq.fill(1 + r.nextInt(4))(newLot().id))
      }
      TaskObj(uid(3, cN), s"Сделка ${col.title}-$cN", epochMs(), Some(col.id), subtasks, None, stickers, None)
    }

    // contracts per tracked column; C1 gets 60 → two pages at limit 50
    val perColumn = Seq(0 -> 18, 1 -> 60, 3 -> 25, 4 -> 12, 5 -> 8)
    val tracked = perColumn.flatMap { case (ci, count) =>
      (0 until count).map { i =>
        val kind =
          if (i % 11 == 0) 0 // no subtasks field
          else if (i % 13 == 0) 1 // empty subtasks
          else if (ci == 1 && i == 30) 2 // the duplicate pair
          else if (i % 37 == 5) 3 // missing lot reference
          else 4
        newContract(columns(ci), kind)
      }
    }
    val untracked = Seq.tabulate(10) { i =>
      newContract(columns(6 + i % 2), if (i % 3 == 0) 4 else 0)
    }

    Universe(boards, columns, dicts, tracked, untracked, lotBuf.toSeq)
  }

  // ------------------------------------------------------------- JSON out
  private val om = new ObjectMapper()

  private def taskNode(t: TaskObj): ObjectNode = {
    val n = om.createObjectNode()
    n.put("id", t.id); n.put("title", t.title); n.put("timestamp", t.timestamp)
    t.columnId.foreach(n.put("columnId", _))
    t.subtasks.foreach { ss => val a = n.putArray("subtasks"); ss.foreach(a.add) }
    t.deleted.foreach(n.put("deleted", _))
    t.stickers.foreach { m =>
      val o = n.putObject("stickers"); m.foreach { case (k, v) => o.put(k, v) }
    }
    t.deadline.foreach { d =>
      val o = n.putObject("deadline")
      d.startDate.foreach(o.put("startDate", _))
      d.deadline.foreach(o.put("deadline", _))
    }
    n
  }

  /** One file per page: `{method}__{columnId|all}__{offset}.json`; an empty
    * collection still gets one page with `content: []` (ref `:213-214`).
    */
  private def writePages(dir: String, method: String, colKey: String,
      limit: Int, items: Seq[ObjectNode]): Unit = {
    val pages = if (items.isEmpty) Seq(Seq.empty[ObjectNode]) else items.grouped(limit).toSeq
    pages.zipWithIndex.foreach { case (page, i) =>
      val env = om.createObjectNode()
      env.putObject("paging").put("next", i < pages.size - 1)
      val content = env.putArray("content")
      page.foreach(content.add)
      Files.write(
        Paths.get(s"$dir/${method}__${colKey}__${i * limit}.json"),
        om.writerWithDefaultPrettyPrinter().writeValueAsString(env).getBytes(UTF_8))
    }
  }

  def writeJson(u: Universe, dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    writePages(dir, "boards", "all", DictPageLimit, u.boards.map { b =>
      val n = om.createObjectNode()
      n.put("id", b.id); n.put("title", b.title); n.put("projectId", b.projectId); n
    })
    writePages(dir, "columns", "all", DictPageLimit, u.columns.map { c =>
      val n = om.createObjectNode()
      n.put("id", c.id); n.put("title", c.title); n.put("boardId", c.boardId); n
    })
    writePages(dir, "string-stickers", "all", DictPageLimit, u.dicts.map { d =>
      val n = om.createObjectNode()
      n.put("id", d.id); n.put("name", d.name)
      val a = n.putArray("states")
      d.states.foreach { s =>
        val sn = om.createObjectNode(); sn.put("id", s.id); sn.put("name", s.name); a.add(sn)
      }
      n
    })
    // per-column contract pages (includeDeleted=false path)
    u.columns.foreach { c =>
      val inCol = u.tracked.filter(_.columnId.contains(c.id)).map(taskNode)
      writePages(dir, "tasks", c.id, ContractPageLimit, inCol)
    }
    // the global includeDeleted=true fetch: every task object
    writePages(dir, "tasks", "all", ObjectPageLimit, u.allObjects.map(taskNode))
  }

  // --------------------------------------------------------- parquet out
  def writeParquet(u: Universe, dir: String): Unit = {
    val spark = graft.LocalSession(4)
    import spark.implicits._
    def save(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.repartition(1).write.mode("overwrite").parquet(s"$dir/$name")
    save(u.boards.toDF(), "boards")
    save(u.columns.toDF(), "columns")
    save(u.dicts.toDS().toDF(), "stickers")
    save(u.tracked.toDS().select($"id", $"title", $"timestamp", $"columnId", $"subtasks", $"stickers"),
      "contracts")
    save(u.allObjects.toDS().select($"id", $"title", $"deleted", $"stickers",
      $"deadline.startDate".as("deadline_start_ms"), $"deadline.deadline".as("deadline_end_ms")),
      "subtask_objects")
    spark.stop()
  }
}
