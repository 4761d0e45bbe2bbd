package etlbench

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import graft.yougile.Model.Stickers
import graft.yougile.{Paginator, YouGileClient}

class WorkspaceSpec extends AnyFunSuite {

  private def sameBytes(a: Map[String, Workspace#Page], b: Map[String, Workspace#Page]): Boolean =
    a.keySet == b.keySet && a.forall { case (k, p) => java.util.Arrays.equals(p.bytes, b(k).bytes) }

  test("one seed renders byte-identical pages; another seed renders different ones") {
    val a = new Workspace(Shape.tiny, 7).pages
    assert(sameBytes(a, new Workspace(Shape.tiny, 7).pages))
    assert(!sameBytes(a, new Workspace(Shape.tiny, 8).pages))
  }

  test("pages are envelopes that Paginator walks back to every listing") {
    val ws = new Workspace(Shape.tiny, 7)
    val client = new YouGileClient {
      override def fetchPage(method: String, offset: Int, limit: Int,
          includeDeleted: Boolean, columnId: Option[String]): String =
        new String(ws.pages(ws.pageKey(method, columnId, includeDeleted, offset, limit)).bytes, UTF_8)
    }
    val limit = Shape.tiny.objectPageLimit
    assert(ws.allObjects.size > limit) // the global listing spans pages
    assert(Paginator.fetchAll(client, "tasks", limit, includeDeleted = true, None).size == ws.allObjects.size)
    ws.contractsByColumn.foreach { case (c, cs) =>
      val got = Paginator.fetchAll(client, "tasks", Shape.tiny.contractPageLimit, includeDeleted = false, Some(c.id))
      assert(got.size == cs.size)
    }
    assert(ws.contractsByColumn.exists(_._2.size > Shape.tiny.contractPageLimit)) // multi-page column
    assert(ws.contractsByColumn.exists(_._2.isEmpty)) // empty page
  }

  test("every fixture trap is planted in each workload shape") {
    for (shape <- Seq(Shape.hourly, Shape.fanout, Shape.backfill)) {
      val ws = new Workspace(shape, 3)
      val t = ws.tracked
      val lotIds = ws.lots.map(_.id).toSet
      val stateIds = ws.dicts.flatMap(_.states.map(_.id)).toSet
      def lotSticker(p: Map[String, String] => Boolean) = ws.lots.exists(_.stickers.exists(p))
      val traps = Map(
        "subtasks absent" -> t.exists(_.subtasks.isEmpty),
        "subtasks empty" -> t.exists(_.subtasks.contains(Nil)),
        "duplicate lot ref" -> t.exists(_.subtasks.exists(s => s.size != s.distinct.size)),
        "missing lot" -> t.exists(_.subtasks.exists(_.exists(!lotIds(_)))),
        "deleted true" -> ws.lots.exists(_.deleted.contains(true)),
        "deleted false" -> ws.lots.exists(_.deleted.contains(false)),
        "deleted absent" -> ws.lots.exists(_.deleted.isEmpty),
        "no stickers" -> t.exists(_.stickers.isEmpty),
        "stale contract state" -> t.exists(_.stickers.exists(_.get(Stickers.ContractStatus).exists(!stateIds(_)))),
        "stale lot state" -> lotSticker(_.get(Stickers.LotStatus).exists(!stateIds(_))),
        "empty quantity" -> lotSticker(_.get(Stickers.QuantityPlan).contains("")),
        "both discharging slots" -> lotSticker(m => m.contains(Stickers.DischargingPlace1) &&
          m.contains(Stickers.DischargingPlace2)),
        "both loading-date slots" -> lotSticker(m => m.contains(Stickers.LoadingDates1) &&
          m.contains(Stickers.LoadingDates2)),
        "tasks outside the allow-list" -> (ws.allObjects.size > t.size + ws.lots.size))
      traps.foreach { case (name, planted) => assert(planted, s"${shape.name}: $name") }
      assert(ws.expect.alert && ws.expect.rows < ws.expect.rows + ws.expect.lostRows + 1)
    }
  }
}
