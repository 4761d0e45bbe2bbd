package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.yougile.{HttpYouGileClient, JsonFixtureClient, RateLimiter, YouGileClient, YouGileConfig, YouGileSource}
import graft.yougile.YouGileSource.View

/** DataSource V2 connector for the YouGile REST API — the reference's S1–S3
  * extract (ref `dags/yougile_etl_dag.py:48-76,200-217`) as a Spark source:
  * `spark.read.format("yougile").option("entity", "tasks").load()`.
  *
  * The pages are fetched on the DRIVER by the pipeline's own page walk
  * ([[graft.yougile.YouGileSource.entities]]) over one client, so a scan
  * spends one 50 req/min budget however many partitions it plans, like
  * the reference's `get_yg_data` (`:48-76`); the executors only decode.
  *  - **Partitioning**: the reference fetches tasks column-by-column to dodge
  *    a pagination bug (S3). Here each board column is ONE InputPartition
  *    carrying that column's entities; other entities are single-page
  *    catalogs → one partition.
  *  - **Column pruning pushdown** (`SupportsPushDownRequiredColumns`): the
  *    pruned schema reaches the per-partition [[JacksonParser]], which
  *    materializes ONLY the required fields from the JSON — the same partial
  *    parse Spark's own json source does. A `select(id)` over a source with
  *    heavy sticker maps never builds the maps.
  *  - **Parsing**: each entity goes through Catalyst's JacksonParser against
  *    the explicit entity schema (Model §1.4 — add-missing-as-null, no
  *    inference), producing InternalRows directly.
  *
  * A batch source only: Spark applies LIMIT, filters and aggregates above
  * the pruned scan. Every page is already on the driver when the scan
  * plans, so folding them into the reader would save no request, page
  * or byte.
  *
  * Options: `entity` (boards|columns|string-stickers|tasks) and `fixtureDir`
  * (JSON fixture root read with [[YouGileConfig.fixture]]; absent → HTTP
  * client and config from the environment). Page sizes and
  * `includeDeleted` come from the entity's [[YouGileSource.View]].
  *
  * Registered as `yougile` via DataSourceRegister (META-INF/services).
  */
class YouGileTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "yougile"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    YouGileTableProvider.viewFor(options.getOrDefault("entity", "tasks")).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new YouGileTable(schema, properties.asScala.toMap)

  override def supportsExternalMetadata(): Boolean = false
}

object YouGileTableProvider {
  /** The view each entity reads; `tasks` is the per-column contracts. */
  private[sources] def viewFor(entity: String): View = entity match {
    case "boards"          => View.Boards
    case "columns"         => View.Columns
    case "string-stickers" => View.StringStickers
    case "tasks"           => View.Contracts
    case other => throw new IllegalArgumentException(
      s"unknown entity '$other' (boards|columns|string-stickers|tasks)")
  }

  /** The client and its config; one per scan, so its limiter is the
    * scan's whole budget.
    */
  private[sources] def clientFor(opts: Map[String, String]): (YouGileClient, YouGileConfig) =
    opts.get("fixturedir") match {
      case Some(dir) => (new JsonFixtureClient(dir), YouGileConfig.fixture)
      case None =>
        val cfg = YouGileConfig.fromEnv(sys.env)
        (new HttpYouGileClient(cfg, new RateLimiter(cfg.minRequestIntervalMs)), cfg)
    }

  /** Distinct board column ids, in listing order. */
  private[sources] def columnIds(client: YouGileClient, cfg: YouGileConfig): Seq[String] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    YouGileSource.entities(client, cfg, View.Columns)
      .map(j => om.readTree(j).path("id").asText())
      .filter(_.nonEmpty).distinct
  }
}

private[sources] class YouGileTable(schema: StructType, opts: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = s"yougile:${opts.getOrElse("entity", "tasks")}"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new YouGileScanBuilder(schema, opts ++ options.asScala)
}

private[sources] class YouGileScanBuilder(full: StructType, opts: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full

  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep the source's field order; requiredSchema names decide membership
    required = StructType(full.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  override def build(): Scan = new YouGileScan(required, opts)
}

private[sources] class YouGileScan(schema: StructType, opts: Map[String, String])
    extends Scan with Batch {
  private val entity = opts.getOrElse("entity", "tasks")

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  override def description(): String = s"YouGileScan(entity=$entity)"

  // once per scan: Spark calls planInputPartitions on every copy of
  // the physical scan node
  private lazy val partitions: Array[InputPartition] = {
    val (client, cfg) = YouGileTableProvider.clientFor(opts)
    val columns = entity match {
      case "tasks" => YouGileTableProvider.columnIds(client, cfg).map(Some(_))
      case _ => Seq(None)
    }
    val view = YouGileTableProvider.viewFor(entity)
    columns.map(c =>
      YouGilePartition(YouGileSource.entities(client, cfg, view, c)): InputPartition).toArray
  }

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory =
    new YouGileReaderFactory(schema)
}

/** One column's (or one catalog's) entities, one raw JSON string each. */
private[sources] case class YouGilePartition(entities: Seq[String])
    extends InputPartition

/** Decodes a partition's entities with Catalyst's JacksonParser. */
private[sources] class YouGileReaderFactory(schema: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val parser = new JacksonParser(
      schema, new JSONOptions(Map.empty, "UTC"), allowArrayAsStructs = false, Nil)
    val rows = partition.asInstanceOf[YouGilePartition].entities.iterator.flatMap { j =>
      parser.parse(j, CreateJacksonParser.string, UTF8String.fromString)
        .map(_.copy())
    }
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = { val has = rows.hasNext; if (has) current = rows.next(); has }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
