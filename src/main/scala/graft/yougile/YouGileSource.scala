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
  * Every listing the system reads (ref `:110-147`, `:208`, `:225`) goes
  * through `read`: one eager page walk ([[Paginator.fetchAll]]) per
  * listing, or per board column, done before the json read plans.
  */
class YouGileSource(spark: SparkSession, client: YouGileClient, val cfg: YouGileConfig) {

  /** One API listing (of each of `columnIds` when set), decoded with
    * `schema`; `pageSize` is the listing's page limit.
    */
  private def read(method: String, schema: StructType, pageSize: Int,
      includeDeleted: Boolean = false, columnIds: Seq[Option[String]] = Seq(None)): DataFrame = {
    import spark.implicits._
    spark.read.schema(schema).json(spark.createDataset(columnIds.flatMap(c =>
      Paginator.fetchAll(client, method, pageSize, includeDeleted, c))))
  }

  def boards(): DataFrame = read("boards", boardSchema, cfg.dictPageLimit)

  def columns(): DataFrame = read("columns", columnSchema, cfg.dictPageLimit)

  def stickers(): DataFrame = read("string-stickers", stickerSchema, cfg.dictPageLimit)

  /** S3: contracts fetched column-by-column — the reference's workaround
    * for a YouGile offset-pagination bug that can drop rows (`:200-217`).
    * All pages are concatenated into ONE json read: an empty portion
    * contributes zero strings, which is the structural form of the F5
    * empty-portion guard (`:213-214`), and the explicit schema conforms
    * every portion to the same columns (S5, `:90-94`).
    */
  def contracts(columnIds: Seq[String]): DataFrame =
    read("tasks", contractSchema, cfg.contractPageLimit, columnIds = columnIds.map(Some(_)))

  /** The global includeDeleted=true fetch whose rows serve as subtasks
    * (lots), ref `:225`.
    */
  def subtaskObjects(): DataFrame =
    read("tasks", subtaskSchema, cfg.objectPageLimit, includeDeleted = true)
}
