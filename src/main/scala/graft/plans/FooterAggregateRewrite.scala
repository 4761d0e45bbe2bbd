package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.types._

/** FOOTER-STATISTICS aggregate answering (opt-in): a global aggregate
  * of `count(*)` / `count(col)` / `min(col)` / `max(col)` over a BARE
  * parquet scan — no filter, no grouping — is already answered by the
  * file footers: every row group carries its row count and per-column
  * min/max/null-count statistics. With the flag on, the whole
  * scan+aggregate collapses to a one-row [[LocalRelation]] computed
  * from the footers at PLAN time — the DSv1 twin of parquet aggregate
  * pushdown (`spark.sql.parquet.aggregatePushdown` exists only for
  * DSv2 scans), and the reason real warehouses answer `SELECT
  * COUNT(*)` from the catalog in milliseconds instead of scanning
  * 100 TB.
  *
  * Soundness boundaries (each refusal keeps the aggregate):
  *  - the child must be a bare scan under attribute-only Projects —
  *    any Filter refuses (footer stats describe ALL rows);
  *  - `min`/`max` only for plain INTEGRAL types (INT32/INT64 with no
  *    logical-type reinterpretation): parquet may TRUNCATE binary
  *    statistics, date/decimal logical types reinterpret the physical
  *    value, and float/double stats are undefined under NaN — all
  *    refuse;
  *  - `min`/`max` require every row group to HAVE statistics for the
  *    column; `count(col)` requires the null count to be set in every
  *    row group. A single stats-less block refuses (a writer is free
  *    to omit statistics);
  *  - DISTINCT refuses (footers cannot answer it); FILTER clauses
  *    refuse.
  *
  * Plan-time cost, stated honestly: one footer read per file, O(KB)
  * each, memoized per (path, listing fingerprint) — the same
  * [[PlanScans.ScanFingerprint]] the constraint catalog uses, so an
  * append/rewrite invalidates the cached stats instead of serving
  * stale answers. At 100 TB/100k files the first planning pays the
  * footer sweep ONCE per table version; a production deployment would
  * persist this cache in its catalog (exactly what ANALYZE TABLE
  * materializes).
  *
  * Enable with `spark.graft.footerAgg.enabled=true`.
  */
object FooterAggregateRewrite extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.footerAgg.enabled"

  /** Per-column footer stats.
    *  - `covered`: Σ row counts of the blocks that CARRY the column —
    *    answers are sound only when covered == the table's total rows,
    *    or files written without the column (schema evolution under
    *    mergeSchema) would be billed as non-null data (review find);
    *  - `valid`: every carrying block either exposed min/max or was
    *    PROVABLY all-null (numNulls == the block's rows). A block with
    *    min/max unset but non-null rows present (parquet lets writers
    *    omit them independently) poisons the column — hasNonNullValue
    *    reports whether min/max are SET, not whether values exist
    *    (review find);
    *  - `physOk`: the parquet schema types the column as plain signed
    *    INT32/INT64 in EVERY file — a UINT32 or other logical
    *    annotation reinterprets the physical value Spark-side, so the
    *    Spark DataType alone cannot license the raw statistic (review
    *    find);
    *  - `min`/`max` merge over value-carrying blocks; None with
    *    valid=true means all-null everywhere → SQL NULL.
    */
  private case class ColStats(nulls: Option[Long], covered: Long, valid: Boolean,
      physOk: Boolean, min: Option[Any], max: Option[Any])
  private case class TableStats(rows: Long, cols: Map[String, ColStats])

  // one live version per root path: a new listing fingerprint REPLACES
  // the cached stats (stale versions would otherwise leak per append
  // for the JVM lifetime — review find)
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, (PlanScans.ScanFingerprint, TableStats)]()

  /** Is this parquet schema field a plain signed 32/64-bit integer
    * (no logical-type reinterpretation)?
    */
  private def plainIntField(t: org.apache.parquet.schema.Type): Boolean = t match {
    case p: org.apache.parquet.schema.PrimitiveType =>
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      val phys = p.getPrimitiveTypeName
      (phys == INT32 || phys == INT64) && (p.getLogicalTypeAnnotation match {
        case null => true
        case i: org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
          i.isSigned && ((phys == INT32 && i.getBitWidth == 32) ||
            (phys == INT64 && i.getBitWidth == 64))
        case _ => false
      })
    case _ => false
  }

  /** Read every footer of the scan's CURRENT listing. Returns None if
    * the index is not listing-backed (no trustworthy fingerprint — the
    * PlanScans refusal) or any footer fails to read.
    */
  private def statsOf(h: HadoopFsRelation): Option[TableStats] =
    PlanScans.fingerprint(h).flatMap { fp =>
      val root = h.location.rootPaths.head.toString
      Option(cache.get(root)).collect { case (`fp`, ts) => ts }.orElse {
        try {
          val files = h.location.asInstanceOf[PartitioningAwareFileIndex].allFiles()
          val conf = h.sparkSession.sessionState.newHadoopConf()
          var rows = 0L
          val colAgg = scala.collection.mutable.Map.empty[String, ColStats]
          files.foreach { f =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf)
            val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try {
              val footer = reader.getFooter
              val schema = footer.getFileMetaData.getSchema
              footer.getBlocks.asScala.foreach { block =>
                val blockRows = block.getRowCount
                rows += blockRows
                block.getColumns.asScala.foreach { cc =>
                  val path = cc.getPath.toDotString
                  val st = cc.getStatistics
                  val hasValues = st != null && st.hasNonNullValue
                  // min/max absent is fine ONLY when the block provably
                  // holds no values at all
                  val blockValid = hasValues ||
                    (st != null && st.isNumNullsSet && st.getNumNulls == blockRows)
                  // top-level leaf only (one path segment); nested
                  // columns never license a raw min/max
                  val physOk = cc.getPath.size == 1 &&
                    schema.containsField(path) &&
                    plainIntField(schema.getType(Seq(path): _*))
                  val cur = ColStats(
                    if (st != null && st.isNumNullsSet) Some(st.getNumNulls) else None,
                    blockRows, blockValid, physOk,
                    if (hasValues) Some(st.genericGetMin) else None,
                    if (hasValues) Some(st.genericGetMax) else None)
                  val merged = colAgg.get(path) match {
                    case None => cur
                    case Some(prev) => ColStats(
                      for (a <- prev.nulls; b <- cur.nulls) yield a + b,
                      prev.covered + cur.covered,
                      prev.valid && cur.valid,
                      prev.physOk && cur.physOk,
                      mergeMinMax(prev.min, cur.min, takeMin = true),
                      mergeMinMax(prev.max, cur.max, takeMin = false))
                  }
                  colAgg(path) = merged
                }
              }
            } finally reader.close()
          }
          val ts = TableStats(rows, colAgg.toMap)
          cache.put(root, (fp, ts))
          Some(ts)
        } catch { case _: Exception => None }
      }
    }

  /** Min/max merge where a missing side is NEUTRAL (that block simply
    * held no non-null values); validity — did every block carry a
    * stats object at all — is tracked separately in [[ColStats]].
    */
  private def mergeMinMax(a: Option[Any], b: Option[Any], takeMin: Boolean): Option[Any] =
    (a, b) match {
      case (Some(x), Some(y)) =>
        val cmp = (x, y) match {
          case (i: java.lang.Integer, j: java.lang.Integer) => Integer.compare(i, j)
          case (i: java.lang.Long, j: java.lang.Long) => java.lang.Long.compare(i, j)
          case (i: java.lang.Float, j: java.lang.Float) => java.lang.Float.compare(i, j)
          case (i: java.lang.Double, j: java.lang.Double) => java.lang.Double.compare(i, j)
          case _ => 0 // unreachable: plain-numeric gate upstream
        }
        Some(if ((cmp <= 0) == takeMin) x else y)
      case (Some(x), None) => Some(x)
      case (None, y) => y
    }

  /** Is `attr` a PLAIN INTEGRAL column of the scan (no logical-type
    * reinterpretation between the parquet physical value and the Spark
    * value)? Dates/decimals/strings refuse (reinterpretation or stat
    * truncation), and float/double refuse too: the parquet spec leaves
    * min/max undefined in the presence of NaN, so floating stats are
    * writer-dependent — Spark's own DSv2 aggregate pushdown draws the
    * same line.
    */
  private def plainNumeric(t: DataType): Boolean = t match {
    case IntegerType | LongType => true
    case _ => false
  }

  /** The bare-scan walk — [[PlanScans.bareScanRelation]]'s single
    * implementation (attribute-only Projects, single root, listing
    * index; Filter refuses), narrowed here to the PARQUET format the
    * footer arithmetic is about.
    */
  private def bareScan(plan: LogicalPlan): Option[HadoopFsRelation] =
    PlanScans.bareScanRelation(plan).filter(_.fileFormat
      .isInstanceOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])

  /** Does the footer value's runtime class agree with the Spark type
    * the answer slot carries? The belt to physOk's suspenders: even a
    * schema-admitted column refuses if the statistic materialized as
    * the wrong box (e.g. an Integer for a LongType attribute).
    */
  private def classMatches(v: Any, t: DataType): Boolean = (v, t) match {
    case (_: java.lang.Integer, IntegerType) => true
    case (_: java.lang.Long, LongType) => true
    case _ => false
  }

  private def answer(ae: AggregateExpression, stats: TableStats): Option[Any] = {
    if (ae.isDistinct || ae.filter.isDefined) return None
    // a column answer is sound only when every table row is covered by
    // a block that carries the column (schema-evolution guard)
    def covered(name: String): Option[ColStats] =
      stats.cols.get(name).filter(_.covered == stats.rows)
    ae.aggregateFunction match {
      case c: Count if c.children.forall(ch => ch.foldable && !ch.nullable) =>
        Some(stats.rows)
      case c: Count => c.children match {
        case Seq(a: AttributeReference) =>
          covered(a.name).flatMap(_.nulls).map(n => stats.rows - n)
        case _ => None
      }
      case m: Min => m.child match {
        case a: AttributeReference if plainNumeric(a.dataType) =>
          covered(a.name).filter(cs => cs.valid && cs.physOk)
            .filter(cs => cs.min.forall(classMatches(_, a.dataType)))
            .map(cs => cs.min.orNull)
        case _ => None
      }
      case m: Max => m.child match {
        case a: AttributeReference if plainNumeric(a.dataType) =>
          covered(a.name).filter(cs => cs.valid && cs.physOk)
            .filter(cs => cs.max.forall(classMatches(_, a.dataType)))
            .map(cs => cs.max.orNull)
        case _ => None
      }
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(ConfKey, "false").toBoolean) return plan
    plan.transformUp {
      case agg @ Aggregate(Nil, aggExprs, child, _) if !child.isStreaming =>
        bareScan(child).flatMap(statsOf) match {
          case None => agg
          case Some(stats) =>
            val values = aggExprs.map {
              case Alias(ae: AggregateExpression, _) => answer(ae, stats)
              case _ => None
            }
            if (values.exists(_.isEmpty)) agg // one unanswerable output refuses all
            else {
              val row = InternalRow.fromSeq(values.map(_.get).map {
                case null => null
                case v: java.lang.Integer => v.intValue()
                case v: java.lang.Long => v.longValue()
                case v: java.lang.Float => v.floatValue()
                case v: java.lang.Double => v.doubleValue()
                case v => v
              })
              LocalRelation(agg.output, Seq(row)) // exprIds preserved
            }
        }
    }
  }
}
