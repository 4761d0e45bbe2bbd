package graft.yougile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.yougile.Model._

/** Typed entity readers (S2/S3): client pages → `Dataset[String]` →
  * `spark.read.schema(…).json` with the §1.4 StructTypes.
  *
  * The fetch itself is deliberately driver-side (SURVEY.md §7.3): the API
  * is rate-limited to ~33 pages/min, so a distributed scan buys nothing —
  * the honest design is a tiny driver fetch feeding a distributed parse.
  * At 100 TB the inputs of this engine are files/tables (Tables.scala),
  * not this API; the YouGile source is inherently small.
  *
  * [[YouGileSource.entities]] is the one page walk: these readers and the
  * `yougile` connector (graft.sources) both fetch through it.
  */
class YouGileSource(spark: SparkSession, client: YouGileClient, cfg: YouGileConfig) {
  import YouGileSource.{View, entities}

  private def read(view: View, columnIds: Seq[Option[String]] = Seq(None)): DataFrame = {
    import spark.implicits._
    spark.read.schema(view.schema)
      .json(spark.createDataset(columnIds.flatMap(c => entities(client, cfg, view, c))))
  }

  def boards(): DataFrame = read(View.Boards)

  def columns(): DataFrame = read(View.Columns)

  def stickers(): DataFrame = read(View.StringStickers)

  /** S3: contracts fetched column-by-column — the reference's workaround
    * for a YouGile offset-pagination bug that can drop rows (`:200-217`).
    * All pages are concatenated into ONE json read: an empty portion
    * contributes zero strings, which is the structural form of the F5
    * empty-portion guard (`:213-214`), and the explicit schema conforms
    * every portion to the same columns (S5, `:90-94`).
    */
  def contracts(columnIds: Seq[String]): DataFrame =
    read(View.Contracts, columnIds.map(Some(_)))

  /** The global includeDeleted=true fetch whose rows serve as subtasks
    * (lots), ref `:225`.
    */
  def subtaskObjects(): DataFrame = read(View.SubtaskObjects)
}

object YouGileSource {

  /** One API listing the system reads, with the schema its entities
    * decode with and the config field that sets its page size.
    */
  final case class View(
      method: String,
      schema: StructType,
      includeDeleted: Boolean,
      pageSize: YouGileConfig => Int)

  /** The five views (ref `:110-147`, `:208`, `:225`). */
  object View {
    val Boards = View("boards", boardSchema, includeDeleted = false, _.dictPageLimit)
    val Columns = View("columns", columnSchema, includeDeleted = false, _.dictPageLimit)
    val StringStickers = View("string-stickers", stickerSchema, includeDeleted = false, _.dictPageLimit)
    val Contracts = View("tasks", contractSchema, includeDeleted = false, _.contractPageLimit)
    val SubtaskObjects = View("tasks", subtaskSchema, includeDeleted = true, _.objectPageLimit)
  }

  /** One raw JSON string per entity of `view` (of one board column when
    * `columnId` is set), every page fetched before it returns.
    */
  def entities(client: YouGileClient, cfg: YouGileConfig, view: View,
      columnId: Option[String] = None): Seq[String] =
    Paginator.fetchAll(client, view.method, view.pageSize(cfg), view.includeDeleted, columnId)
}
