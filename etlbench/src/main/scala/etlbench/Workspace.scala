package etlbench

import java.nio.charset.StandardCharsets.UTF_8
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import scala.jdk.CollectionConverters._
import graft.yougile.Model._
import graft.yougile.YouGileConfig

/** The size of one benchmark workspace and how the run loads it. Sizes
  * are fixed per workload; the seed only draws content, so the request
  * count and the row count barely move between seeds.
  */
case class Shape(
    name: String,
    allowedBoards: Int,
    archivedBoards: Int,
    columnsPerBoard: Int,
    minContracts: Int, // per tracked column, inclusive
    maxContracts: Int,
    contractPageLimit: Int,
    objectPageLimit: Int,
    sink: String) { // "jdbc" or "parquet"
  val dictPageLimit = 1000
}

object Shape {
  /** The deployment the reference describes: a few boards, reference page
    * sizes, appended through JDBC.
    */
  val hourly = Shape("hourly_jdbc", allowedBoards = 3, archivedBoards = 1, columnsPerBoard = 12,
    minContracts = 150, maxContracts = 150, contractPageLimit = 1000, objectPageLimit = 100, sink = "jdbc")
  /** Many rows in few large pages, loaded as parquet. */
  val backfill = Shape("backfill_parquet", allowedBoards = 3, archivedBoards = 1, columnsPerBoard = 10,
    minContracts = 1350, maxContracts = 1350, contractPageLimit = 5000, objectPageLimit = 5000, sink = "parquet")
  /** Hundreds of nearly empty columns: one request per column. */
  val fanout = Shape("column_fanout", allowedBoards = 20, archivedBoards = 2, columnsPerBoard = 25,
    minContracts = 0, maxContracts = 3, contractPageLimit = 1000, objectPageLimit = 100, sink = "jdbc")
  /** Small enough for the benchmark's own tests. */
  val tiny = Shape("tiny", allowedBoards = 2, archivedBoards = 1, columnsPerBoard = 3,
    minContracts = 0, maxContracts = 40, contractPageLimit = 25, objectPageLimit = 50, sink = "parquet")

  val all: Seq[Shape] = Seq(hourly, backfill, fanout, tiny)
  def named(n: String): Shape =
    all.find(_.name == n).getOrElse(throw new IllegalArgumentException(s"unknown workload $n"))
}

/** What a correct run must load, derived from the generated universe by
  * the reference's rules, without running the program. `quantityPlanTenths`
  * is Σ quantity_plan × 10 over mart rows, exact because every generated
  * quantity has one decimal.
  */
case class Expect(
    rows: Long,
    distinctTasks: Long,
    distinctPairs: Long,
    lostRows: Long,
    quantityPlanTenths: Long) {
  def alert: Boolean = lostRows > 0
}

/** One seeded synthetic YouGile workspace with every trap the committed
  * fixtures plant, at exact shares:
  *   - contracts: `subtasks` absent 4 %, empty 3 %, a duplicated lot
  *     reference 2 %, a referenced-but-missing lot 1.5 %, else 1–4 lots;
  *     `stickers` absent 5 %, empty 7 %, a stale status id 5 %;
  *   - lots: `deleted` true 8 %, false 42 %, absent 50 %; stale state ids;
  *     empty quantity strings; both alternative sticker slots filled;
  *   - contracts and lots on archived boards outside the allow-list.
  * Pages are rendered once, as `{"paging":{…,"next":…},"content":[…]}`
  * envelopes, for the page sizes the workload's config requests.
  */
final class Workspace(val shape: Shape, val seed: Long) {
  private val r = new java.util.Random(seed)
  private val om = new ObjectMapper()

  private def uid(kind: Int, n: Int): String =
    f"$kind%08x-00${kind & 0xff}%02x-4000-8000-$n%012x"

  val boards: Seq[Board] =
    (0 until shape.allowedBoards).map(i => Board(uid(1, i), s"Доска $i", uid(9, i % 3))) ++
      (0 until shape.archivedBoards).map(i =>
        Board(uid(1, 1000 + i), s"Архив $i", uid(9, 7)))
  val allowedBoardNames: Seq[String] = boards.take(shape.allowedBoards).map(_.title)

  val columns: Seq[BoardColumn] = for {
    (b, bi) <- boards.zipWithIndex
    c <- 0 until shape.columnsPerBoard
  } yield BoardColumn(uid(2, bi * 10000 + c), s"Колонка $bi-$c", b.id)

  private def states(kind: Int, names: Seq[String]): Seq[StickerState] =
    names.zipWithIndex.map { case (n, i) => StickerState(uid(kind, i), n) }
  private val contractStates = states(0x30, Seq("Активная", "Завершена", "Расторгнута"))
  private val deliveryStates = states(0x31, Seq("FOB", "CIF", "DAP", "EXW"))
  private val lotStates = states(0x32, Seq("Запланирован", "Погрузка", "В пути", "Доставлен"))
  private val placeStates = states(0x33, Seq("Новороссийск", "Тамань", "Высоцк"))
  private val provStates = states(0x34, Seq("Да", "Нет"))
  private val finalStates = states(0x35, Seq("Да", "Нет", "Частично"))

  val dicts: Seq[StickerDict] = Seq(
    StickerDict(Stickers.ContractStatus, HubNames.ContractStatus, contractStates),
    StickerDict(Stickers.DeliveryTerm, HubNames.DeliveryTerm, deliveryStates),
    StickerDict(Stickers.LotStatus, HubNames.LotStatus, lotStates),
    StickerDict(Stickers.LoadingPlace, HubNames.LoadingPlace, placeStates),
    StickerDict(Stickers.ProvPaid, HubNames.ProvPaid, provStates),
    StickerDict(Stickers.FinalPaid, HubNames.FinalPaid, finalStates),
    StickerDict(uid(0x3f, 0), "Менеджер", states(0x36, Seq("Иванов", "Петрова"))),
    StickerDict(uid(0x3f, 1), "Заметки", Nil))

  private def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.size))
  private def maybe[A](p: Double)(a: => A): Option[A] = if (r.nextDouble() < p) Some(a) else None
  private def epochMs(): Long = 1704067200000L + r.nextInt(540).toLong * 86400000L + r.nextInt(86400000)
  private def dateStr(): String = f"${1 + r.nextInt(28)}%02d.${1 + r.nextInt(12)}%02d.${2024 + r.nextInt(2)}"
  private def quantity(): String =
    if (r.nextDouble() < 0.10) "" else s"${1000 + r.nextInt(9000)}.${r.nextInt(10)}"

  private def loadingDates(): String =
    if (r.nextInt(10) == 0) dateStr()
    else {
      val (a, b) = (dateStr(), dateStr())
      r.nextInt(4) match {
        case 0 => s"$a - $b"
        case 1 => s"$a-$b"
        case 2 => s" $a -$b"
        case _ => s"$a- $b "
      }
    }

  private val lotBuf = Vector.newBuilder[TaskObj]
  private var lotN = 0
  private def newLot(): TaskObj = {
    lotN += 1
    val stickers = maybe(0.95) {
      val m = Map.newBuilder[String, String]
      maybe(0.85)(if (r.nextDouble() < 0.05) uid(0xdd, 9) else pick(deliveryStates).id)
        .foreach(m += Stickers.DeliveryTerm -> _)
      maybe(0.90)(if (r.nextDouble() < 0.05) uid(0xdd, 8) else pick(lotStates).id)
        .foreach(m += Stickers.LotStatus -> _)
      maybe(0.80)(pick(placeStates).id).foreach(m += Stickers.LoadingPlace -> _)
      maybe(0.70)(s"MV ATLAS-${r.nextInt(90)}").foreach(m += Stickers.ShipName -> _)
      maybe(0.75)(quantity()).foreach(m += Stickers.QuantityPlan -> _)
      maybe(0.70)(quantity()).foreach(m += Stickers.QuantityFact -> _)
      r.nextInt(100) match {
        case n if n < 40 => m += Stickers.DischargingPlace1 -> pick(Seq("Rotterdam", "Стамбул", "Mersin"))
        case n if n < 65 => m += Stickers.DischargingPlace2 -> pick(Seq("Alexandria", "Бейрут"))
        case n if n < 75 =>
          m += Stickers.DischargingPlace1 -> "Rotterdam"
          m += Stickers.DischargingPlace2 -> "IGNORED-slot2"
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
    val deadline = r.nextInt(10) match {
      case n if n < 7 => Some(Deadline(Some(epochMs()), Some(epochMs())))
      case 7          => Some(Deadline(Some(epochMs()), None))
      case _          => None
    }
    val lot = TaskObj(uid(4, lotN), s"Лот $lotN", epochMs(), None, None, None, stickers, deadline)
    lotBuf += lot
    lot
  }

  /** `n` labels in exact shares, in seeded order; `rest` fills the slots
    * the shares leave. Exact shares keep the row and request counts of a
    * shape nearly the same for every seed.
    */
  private def deck[A](n: Int, shares: Seq[(A, Double)], rest: A): Iterator[A] = {
    val fixed = shares.flatMap { case (a, p) => Seq.fill(math.round(n * p).toInt)(a) }
    val all = new java.util.ArrayList[A]((fixed ++ Seq.fill(math.max(0, n - fixed.size))(rest)).take(n).asJava)
    java.util.Collections.shuffle(all, r)
    all.asScala.iterator
  }

  private val trackedBoardIds = boards.take(shape.allowedBoards).map(_.id).toSet

  /** Contracts per tracked column, spread evenly over the shape's range;
    * an archived column carries a tenth of the largest load, at least one.
    */
  private val perColumn: Map[BoardColumn, Int] = {
    val (tracked, archived) = columns.partition(c => trackedBoardIds(c.boardId))
    val span = shape.maxContracts - shape.minContracts
    val counts = tracked.indices.map(i =>
      shape.minContracts + (if (tracked.size < 2) 0 else math.round(i.toDouble * span / (tracked.size - 1)).toInt))
    val shuffled = new java.util.ArrayList[Int](counts.asJava)
    java.util.Collections.shuffle(shuffled, r)
    (tracked.zip(shuffled.asScala) ++ archived.map(_ -> math.max(1, shape.maxContracts / 10))).toMap
  }

  private sealed trait Kind
  private case object NoSubtasks extends Kind
  private case object EmptySubtasks extends Kind
  private case object DuplicateLot extends Kind
  private case object MissingLot extends Kind
  private case class Lots(n: Int) extends Kind

  private val contractCount = perColumn.values.sum
  private val kinds = deck[Kind](contractCount,
    Seq(NoSubtasks -> 0.04, EmptySubtasks -> 0.03, DuplicateLot -> 0.02, MissingLot -> 0.015) ++
      (1 to 4).map(n => Lots(n) -> 0.8950 / 4), Lots(2))
  private val stickerKinds = deck[Int](contractCount, Seq(0 -> 0.05, 1 -> 0.07, 2 -> 0.05), 3)

  private var contractN = 0
  private def newContract(col: BoardColumn): TaskObj = {
    contractN += 1
    val stickers: Option[Map[String, String]] = stickerKinds.next() match {
      case 0 => None
      case 1 => Some(Map.empty)
      case 2 => Some(Map(Stickers.ContractStatus -> uid(0xdd, 7))) // stale state id
      case _ => Some(Map(Stickers.ContractStatus -> pick(contractStates).id))
    }
    val subtasks: Option[Seq[String]] = kinds.next() match {
      case NoSubtasks    => None
      case EmptySubtasks => Some(Nil)
      case DuplicateLot  => { val x = newLot().id; Some(Seq(x, x)) }
      case MissingLot    => Some(Seq(newLot().id, uid(0xee, contractN)))
      case Lots(n)       => Some(Seq.fill(n)(newLot().id))
    }
    TaskObj(uid(3, contractN), s"Сделка ${col.title}-$contractN", epochMs(), Some(col.id),
      subtasks, None, stickers, None)
  }

  /** Contracts per column, in column order. */
  val contractsByColumn: Seq[(BoardColumn, Seq[TaskObj])] =
    columns.map(c => c -> Seq.fill(perColumn(c))(newContract(c)))

  /** Lots, with `deleted` dealt from a deck: true 8 %, false 42 %, absent. */
  val lots: Seq[TaskObj] = {
    val made = lotBuf.result()
    val deleted = deck[Option[Boolean]](made.size, Seq(Some(true) -> 0.08, Some(false) -> 0.42), None)
    made.map(_.copy(deleted = deleted.next()))
  }

  val tracked: Seq[TaskObj] =
    contractsByColumn.filter(cc => trackedBoardIds(cc._1.boardId)).flatMap(_._2)
  /** The global includeDeleted=true listing: every task object. */
  val allObjects: Seq[TaskObj] = contractsByColumn.flatMap(_._2) ++ lots

  def config(baseUrl: String): YouGileConfig = YouGileConfig(
    baseUrl = baseUrl,
    token = "bench-token",
    allowedBoards = allowedBoardNames,
    contractPageLimit = shape.contractPageLimit,
    objectPageLimit = shape.objectPageLimit,
    dictPageLimit = shape.dictPageLimit,
    minRequestIntervalMs = 0)

  // ------------------------------------------------------------ expected
  /** The mart a correct run loads, by the reference's rules: one row per
    * (contract, lot reference), a null-lot row for a contract without
    * lots, lots marked deleted dropped, a missing lot kept as a lost row,
    * then the full-row dedup (which folds only the duplicated reference).
    */
  lazy val expect: Expect = {
    val lotById = lots.map(l => l.id -> l).toMap
    val pairs = tracked.flatMap { c =>
      c.subtasks.filter(_.nonEmpty) match {
        case None => Seq(c.id -> None)
        case Some(refs) =>
          refs.distinct.flatMap { ref =>
            lotById.get(ref) match {
              case Some(l) if l.deleted.contains(true) => Nil
              case found => Seq(c.id -> Some(ref -> found))
            }
          }
      }
    }
    val qty = pairs.iterator.flatMap(_._2).flatMap(_._2).flatMap(_.stickers)
      .flatMap(_.get(Stickers.QuantityPlan)).filter(_.nonEmpty)
      .map(q => q.replace(".", "").toLong).sum
    Expect(
      rows = pairs.size.toLong,
      distinctTasks = pairs.map(_._1).distinct.size.toLong,
      distinctPairs = pairs.map(p => p._1 -> p._2.map(_._1)).distinct.size.toLong,
      lostRows = pairs.count(_._2.exists(_._2.isEmpty)).toLong,
      quantityPlanTenths = qty)
  }

  // --------------------------------------------------------------- pages
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

  /** Page key as the server sees a request. */
  def pageKey(method: String, columnId: Option[String], includeDeleted: Boolean,
      offset: Int, limit: Int): String =
    s"$method|${columnId.getOrElse("all")}|$includeDeleted|$offset|$limit"

  /** A served page: the envelope bytes and how many objects it carries. */
  case class Page(bytes: Array[Byte], objects: Int)

  private def paged(method: String, columnId: Option[String], includeDeleted: Boolean,
      limit: Int, items: Seq[ObjectNode]): Seq[(String, Page)] = {
    val chunks = if (items.isEmpty) Seq(Seq.empty[ObjectNode]) else items.grouped(limit).toSeq
    chunks.zipWithIndex.map { case (chunk, i) =>
      val env = om.createObjectNode()
      val paging = env.putObject("paging")
      paging.put("count", items.size); paging.put("limit", limit); paging.put("offset", i * limit)
      paging.put("next", i < chunks.size - 1)
      val content = env.putArray("content")
      chunk.foreach(content.add)
      pageKey(method, columnId, includeDeleted, i * limit, limit) ->
        Page(om.writeValueAsString(env).getBytes(UTF_8), chunk.size)
    }
  }

  /** Every page the pipeline requests under [[config]]: dictionaries, one
    * listing per column (archived columns too, as the API would serve
    * them), and the global listing.
    */
  lazy val pages: Map[String, Page] = {
    val dict = shape.dictPageLimit
    val out = Seq.newBuilder[(String, Page)]
    out ++= paged("boards", None, includeDeleted = false, dict, boards.map { b =>
      val n = om.createObjectNode()
      n.put("id", b.id); n.put("title", b.title); n.put("projectId", b.projectId); n
    })
    out ++= paged("columns", None, includeDeleted = false, dict, columns.map { c =>
      val n = om.createObjectNode()
      n.put("id", c.id); n.put("title", c.title); n.put("boardId", c.boardId); n
    })
    out ++= paged("string-stickers", None, includeDeleted = false, dict, dicts.map { d =>
      val n = om.createObjectNode()
      n.put("id", d.id); n.put("name", d.name)
      val a = n.putArray("states")
      d.states.foreach { s =>
        val sn = om.createObjectNode(); sn.put("id", s.id); sn.put("name", s.name); a.add(sn)
      }
      n
    })
    contractsByColumn.foreach { case (c, cs) =>
      out ++= paged("tasks", Some(c.id), includeDeleted = false, shape.contractPageLimit, cs.map(taskNode))
    }
    out ++= paged("tasks", None, includeDeleted = true, shape.objectPageLimit, allObjects.map(taskNode))
    out.result().toMap
  }
}
