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
  *  - **Aggregate pushdown** (`SupportsPushDownAggregates`): COUNT / MIN /
  *    MAX / SUM per group fold inside the readers; see
  *    [[YouGileScanBuilder.pushAggregation]].
  *  - **Parsing**: each entity goes through Catalyst's JacksonParser against
  *    the explicit entity schema (Model §1.4 — add-missing-as-null, no
  *    inference), producing InternalRows directly.
  *
  * A batch source only: Spark applies LIMIT and filters above the scan.
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

/** One pushed aggregate function. COUNTs emit non-null LongType
  * partials; MIN/MAX preserve the column type (null when the
  * partition never saw a non-null value); SUM is restricted to
  * Long/Double columns so the partial type equals Spark's final sum
  * type (a pushed SUM(int) would need a Long partial — refused
  * instead of special-cased).
  */
private[sources] sealed trait YouGileAgg { def col: Option[String] }
private[sources] case object YgCountStar extends YouGileAgg { val col = None }
private[sources] case class YgCount(c: String) extends YouGileAgg { def col = Some(c) }
private[sources] case class YgMin(c: String) extends YouGileAgg { def col = Some(c) }
private[sources] case class YgMax(c: String) extends YouGileAgg { def col = Some(c) }
private[sources] case class YgSum(c: String) extends YouGileAgg { def col = Some(c) }

/** Pushed-aggregate shape: per-partition census over `groupCols`. */
private[sources] case class YouGileAggSpec(groupCols: Seq[String], aggs: Seq[YouGileAgg]) {
  import org.apache.spark.sql.types.{LongType, StructField}
  def schema(full: StructType): StructType = StructType(
    groupCols.map(c => full(c)) ++
      aggs.zipWithIndex.map {
        case (YgCountStar, i) => StructField(s"count_star_$i", LongType, nullable = false)
        case (YgCount(c), i) => StructField(s"count_${c}_$i", LongType, nullable = false)
        case (YgMin(c), i) => StructField(s"min_${c}_$i", full(c).dataType, nullable = true)
        case (YgMax(c), i) => StructField(s"max_${c}_$i", full(c).dataType, nullable = true)
        case (YgSum(c), i) => StructField(s"sum_${c}_$i", full(c).dataType, nullable = true)
      })
}

private[sources] class YouGileScanBuilder(full: StructType, opts: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {
  private var required: StructType = full
  private var agg: Option[YouGileAggSpec] = None

  /** Aggregate pushdown (`SupportsPushDownAggregates`): COUNT(*) /
    * null-skipping COUNT(col) / MIN / MAX / SUM over top-level source
    * fields, grouped by top-level fields, is answered INSIDE the
    * partition reader — every page is still fetched (the API has no
    * aggregate endpoints), but each per-column partition ships ONE
    * census row per group across the source boundary instead of every
    * task row. PARTIAL pushdown (supportCompletePushDown stays
    * false): Spark plans the final merge (SUM of count partials,
    * MIN/MAX/SUM of the others) — always correct, including a group
    * split across partitions or an empty scan. MIN/MAX/SUM are
    * restricted to numeric fields (and SUM further to Long/Double so
    * the partial type equals the final type); distinct aggregates,
    * other functions, and nested/struct keys stay with Spark
    * untouched.
    */
  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min, Sum}
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    def topLevel(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 &&
          full.fieldNames.contains(r.fieldNames.head) => Some(r.fieldNames.head)
        case _ => None
      }
    def numeric(c: String) = full(c).dataType match {
      case LongType | IntegerType | DoubleType => true
      case _ => false
    }
    def summable(c: String) = full(c).dataType match {
      case LongType | DoubleType => true
      case _ => false
    }
    val groups = aggregation.groupByExpressions.toSeq.map(topLevel)
    val aggs: Seq[Option[YouGileAgg]] = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(YgCountStar)
      case c: Count if !c.isDistinct => topLevel(c.column).map(YgCount)
      case m: Min => topLevel(m.column).filter(numeric).map(YgMin)
      case m: Max => topLevel(m.column).filter(numeric).map(YgMax)
      case s: Sum if !s.isDistinct => topLevel(s.column).filter(summable).map(YgSum)
      case _ => None
    }
    if (groups.forall(_.isDefined) && aggs.forall(_.isDefined) && aggs.nonEmpty) {
      agg = Some(YouGileAggSpec(groups.flatten, aggs.flatten))
      true
    } else false
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep the source's field order; requiredSchema names decide membership
    required = StructType(full.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  override def build(): Scan =
    new YouGileScan(agg.map(_.schema(full)).getOrElse(required), opts, agg)
}

private[sources] class YouGileScan(schema: StructType, opts: Map[String, String],
    agg: Option[YouGileAggSpec])
    extends Scan with Batch {
  private val entity = opts.getOrElse("entity", "tasks")

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  override def description(): String = {
    val aggDesc = agg.fold("")(a =>
      s", PushedAggregates: [${a.aggs.map {
        case YgCountStar => "COUNT(*)"
        case YgCount(c) => s"COUNT($c)"
        case YgMin(c) => s"MIN($c)"
        case YgMax(c) => s"MAX($c)"
        case YgSum(c) => s"SUM($c)"
      }.mkString(", ")}]" +
        s", PushedGroupBy: [${a.groupCols.mkString(", ")}]")
    s"YouGileScan(entity=$entity$aggDesc)"
  }

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
      YouGilePartition(entity, YouGileSource.entities(client, cfg, view, c)): InputPartition).toArray
  }

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory =
    new YouGileReaderFactory(schema, agg)
}

/** One column's (or one catalog's) entities, one raw JSON string each. */
private[sources] case class YouGilePartition(entity: String, entities: Seq[String])
    extends InputPartition

private[sources] class YouGileReaderFactory(schema: StructType, agg: Option[YouGileAggSpec])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[YouGilePartition]
    val rows = agg.fold(YouGileReaderFactory.decode(schema, p))(YouGileReaderFactory.census(p, _))
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = { val has = rows.hasNext; if (has) current = rows.next(); has }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

private[sources] object YouGileReaderFactory {

  /** Decodes a partition's entities with Catalyst's JacksonParser. */
  def decode(schema: StructType, p: YouGilePartition): Iterator[InternalRow] = {
    val parser = new JacksonParser(
      schema, new JSONOptions(Map.empty, "UTC"), allowArrayAsStructs = false, Nil)
    p.entities.iterator.flatMap { j =>
      parser.parse(j, CreateJacksonParser.string, UTF8String.fromString)
        .map(_.copy())
    }
  }

  /** Aggregate pushdown: decodes against a schema narrowed to the
    * referenced fields, folds the rows into per-group partials, and
    * emits one census row per group — group values followed by partials
    * in the positional order `SupportsPushDownAggregates` specifies.
    * COUNT(col)/MIN/MAX/SUM skip nulls exactly like the SQL semantics
    * (an all-null group yields a null MIN/MAX/SUM partial). State is
    * O(groups) per partition; the task-row stream is never
    * materialized.
    */
  def census(p: YouGilePartition, spec: YouGileAggSpec): Iterator[InternalRow] = {
    val fields = (spec.groupCols ++ spec.aggs.flatMap(_.col)).distinct
    val schema = StructType(
      YouGileTableProvider.viewFor(p.entity).schema.fields.filter(f => fields.contains(f.name)))
    def field(c: String): InternalRow => Any = _.get(schema.fieldIndex(c), schema(c).dataType)
    val keys = spec.groupCols.map(field)
    // COUNT(*) counts every row: its value is never null
    val values = spec.aggs.map(_.col.fold[InternalRow => Any](_ => 1)(field))
    // partials are boxed as the column's own type (Long, Integer or
    // Double): a COUNT starts at 0, the others at null until a value
    def fold(a: YouGileAgg, acc: Any, v: Any): Any =
      if (v == null) acc
      else a match {
        case YgCountStar | YgCount(_) => acc.asInstanceOf[java.lang.Long] + 1L
        case _ if acc == null => v
        case YgMin(_) => if (v.asInstanceOf[Comparable[Any]].compareTo(acc) < 0) v else acc
        case YgMax(_) => if (v.asInstanceOf[Comparable[Any]].compareTo(acc) > 0) v else acc
        case YgSum(_) => acc match {
          case s: java.lang.Long => s + v.asInstanceOf[java.lang.Long]
          case s: java.lang.Double => s + v.asInstanceOf[java.lang.Double]
        }
      }
    val acc = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Array[Any]]
    decode(schema, p).foreach { r =>
      val parts = acc.getOrElseUpdate(keys.map(_(r)), spec.aggs.map {
        case YgCountStar | YgCount(_) => java.lang.Long.valueOf(0L): Any
        case _ => null
      }.toArray)
      spec.aggs.indices.foreach(i => parts(i) = fold(spec.aggs(i), parts(i), values(i)(r)))
    }
    acc.iterator.map { case (key, parts) => InternalRow.fromSeq(key ++ parts) }
  }
}
