package graft.yougile

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SharedSpark, SparkEntry}
import graft.sinks.{NoopAlerter, ParquetSink}

/** End-to-end over the committed fixture universe (FIXTURES.md §A): JSON
  * pages → paginated client → readers → transform → mart. Asserts the
  * scenario counts that FixtureGen plants, so a regression in any stage
  * (pagination, schema conform, explode, join, filter, dedup) moves a
  * number here.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private lazy val src = new YouGileSource(spark, new JsonFixtureClient(Fixtures.jsonDir), YouGileConfig.fixture)
  private lazy val bc = Pipeline.brdClmn(src, YouGileConfig.fixture)
  private lazy val assembled = Pipeline.assembled(src, bc)
  private lazy val mart = Pipeline.mart(src, YouGileConfig.fixture, Fixtures.runTs)
  private lazy val allColumns = src.columns().select("id").as[String].collect().toSeq

  test("entity readers see the full universe through pagination") {
    assert(src.boards().count() == 4)
    assert(src.columns().count() == 8)
    assert(src.stickers().count() == 8)
    assert(src.subtaskObjects().count() == 379) // 4 pages of the global fetch
  }

  test("brd_clmn keeps only tracked boards' columns") {
    assert(bc.count() == 6)
    assert(bc.filter($"board_name".isNull).count() == 0)
  }

  test("per-column fetch unions portions incl. the two-page column and the empty column") {
    val columnIds = bc.select("column_id").as[String].collect().toSeq
    assert(src.contracts(columnIds).count() == 123)
  }

  test("assembly grain: Σ max(1,|subtasks|) minus deleted-lot rows") {
    assert(assembled.count() == 241)
    assert(assembled.filter($"subtask_id".isNull).count() == 20) // lot-less contracts kept
    assert(assembled.filter($"deleted" <=> lit(true)).count() == 0)
  }

  test("F4 probe finds the planted missing-lot references") {
    assert(Transform.lostSubtasks(assembled).count() == 6)
  }

  test("mart: 240 rows (one duplicate pair collapsed), 22-column ddl layout, stamped run-ts") {
    assert(mart.columns.toSeq == Model.martColumns)
    assert(mart.count() == 240)
    assert(mart.distinct().count() == 240)
    val ts = mart.select("loaded_ts").distinct().as[java.sql.Timestamp].collect()
    assert(ts.toSeq == Seq(java.sql.Timestamp.valueOf(Fixtures.runTs)))
    assert(mart.filter($"board_name".isNull || $"column_name".isNull).count() == 0)
  }

  test("yg_dsv2_census counts every column's contracts, and some task has null subtasks") {
    val got = SparkEntry.queries("yg_dsv2_census")(spark, "").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val expected = src.contracts(allColumns).select("columnId", "subtasks").collect()
      .groupBy(_.getString(0)).view
      .mapValues(rs => (rs.length.toLong, rs.count(!_.isNullAt(1)).toLong)).toMap
    assert(got == expected && got.nonEmpty)
    assert(got.values.exists { case (n, withSubtasks) => withSubtasks < n },
      "no null subtasks in the fixtures: the null-skipping count is vacuous")
  }

  test("an allow-list that matches no board fails the run before any tasks page is requested") {
    val fixtures = new JsonFixtureClient(Fixtures.jsonDir)
    val methods = scala.collection.mutable.ArrayBuffer.empty[String]
    val counting = new YouGileClient {
      override def fetchPage(method: String, offset: Int, limit: Int,
          includeDeleted: Boolean, columnId: Option[String]): String = {
        methods.synchronized { methods += method }
        fixtures.fetchPage(method, offset, limit, includeDeleted, columnId)
      }
    }
    val out = java.nio.file.Paths.get(SharedSpark.scratchDir("yg_no_board"), "mart")
    val cfg = YouGileConfig.fixture.copy(allowedBoards = Seq("No Such Board"))
    val e = intercept[IllegalStateException](
      Pipeline.run(spark, counting, cfg, Fixtures.runTs, new ParquetSink(out.toString), NoopAlerter))
    assert(e.getMessage.contains("No Such Board"), e.getMessage)
    assert(methods.contains("columns") && !methods.contains("tasks"), s"requests: $methods")
    assert(!java.nio.file.Files.exists(out), "the sink wrote")
  }

  test("the readers fetch and decode every page while they plan") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createDirectories(Paths.get(SharedSpark.scratchDir("yg_driver_fetch")))
    Files.list(Paths.get(Fixtures.jsonDir)).forEach(f => { Files.copy(f, dir.resolve(f.getFileName)); () })
    val copy = new YouGileSource(spark, new JsonFixtureClient(dir.toString), YouGileConfig.fixture)
    val contracts = copy.contracts(allColumns)
    // the pages are gone before any task runs: a reader that fetched or
    // decoded them inside a task would fail here
    Files.list(dir).forEach(f => Files.delete(f))
    Files.delete(dir)
    val got = contracts.collect().toSeq.sortBy(_.getAs[String]("id"))
    assert(got.nonEmpty && got == src.contracts(allColumns).collect().toSeq.sortBy(_.getAs[String]("id")))
  }
}
