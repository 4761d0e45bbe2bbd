package graft.yougile

import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import graft.yougile.Model._

/** Typed entity readers (S2/S3): client pages decoded with the §1.4
  * StructTypes into driver-local frames.
  *
  * The fetch is deliberately driver-side (SURVEY.md §7.3): the API is
  * rate-limited to ~33 pages/min, so a distributed scan buys nothing. The
  * decode is driver-side too: every page string is already on the driver
  * once [[Paginator.fetchAll]] returns, and parsing them in tasks only
  * shipped the strings out to the executors and cost Spark jobs. At
  * 100 TB the inputs of this engine are files/tables (Tables.scala), not
  * this API; the YouGile source is inherently small.
  *
  * Every listing the system reads (ref `:110-147`, `:208`, `:225`) goes
  * through `read`: one eager page walk per listing, or per board column,
  * decoded as it arrives, so each frame is a `LocalRelation` whose row
  * count the planner knows exactly.
  */
class YouGileSource(spark: SparkSession, client: YouGileClient, val cfg: YouGileConfig) {

  /** One API listing (of each of `columnIds` when set), decoded with
    * `schema`; `pageSize` is the listing's page limit. The parser is the
    * one `DataFrameReader.json(Dataset[String])` runs inside its tasks,
    * with the same options and PERMISSIVE mode, so a record decodes to the
    * same row; the schemas carry no corrupt-record column. Each listing's
    * strings are dropped once they are decoded.
    */
  private def read(method: String, schema: StructType, pageSize: Int,
      includeDeleted: Boolean = false, columnIds: Seq[Option[String]] = Seq(None)): DataFrame = {
    val options = new JSONOptions(Map.empty[String, String],
      spark.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key),
      spark.conf.get(SQLConf.COLUMN_NAME_OF_CORRUPT_RECORD.key))
    val jackson = new JacksonParser(schema, options, allowArrayAsStructs = true)
    val parser = new FailureSafeParser[String](
      jackson.parse(_, CreateJacksonParser.string, UTF8String.fromString),
      options.parseMode, schema, options.columnNameOfCorruptRecord)
    val rows = columnIds.iterator.flatMap(c =>
      Paginator.fetchAll(client, method, pageSize, includeDeleted, c).iterator.flatMap(parser.parse))
    GraftShims.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows.toVector))
  }

  def boards(): DataFrame = read("boards", boardSchema, cfg.dictPageLimit)

  def columns(): DataFrame = read("columns", columnSchema, cfg.dictPageLimit)

  def stickers(): DataFrame = read("string-stickers", stickerSchema, cfg.dictPageLimit)

  /** S3: contracts fetched column-by-column — the reference's workaround
    * for a YouGile offset-pagination bug that can drop rows (`:200-217`).
    * All portions are decoded into ONE frame: an empty portion
    * contributes zero rows, which is the structural form of the F5
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
