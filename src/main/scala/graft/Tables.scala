package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Typed loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Mirrors the reference's explicit-schema-at-the-boundary rule (SURVEY.md
  * §1.1, ref `dags/yougile_etl_dag.py:90-94`): production paths never rely
  * on inference drift. Parquet pins the schema here; the only normalization
  * needed is `events.ts`, written as parquet TIMESTAMP(NANOS) which Spark's
  * reader only exposes as a nanosecond LongType (via
  * `spark.sql.legacy.parquet.nanosAsLong`) — we floor-divide to micros,
  * matching DuckDB's microsecond truncation, so oracle comparisons agree.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else normalizeNtz(spark.read.parquet(s"$dir/$name.parquet"))

  /** Load a table for a COMPUTE-BOUND consumer, spreading an unsplittable
    * scan to full session width. Parquet splits at row-group granularity,
    * so a single-row-group file collapses the whole scan — and every narrow
    * transform above it — to ONE task no matter how many cores the session
    * has (the driver-generated testdata is written exactly this way; the
    * r7 round-end sweep measured ann9 at 21.5 s single-task vs 5 s spread).
    * When the scan yields fewer than half the session's parallelism,
    * round-robin to full width; at production scale a scan carries
    * thousands of splits and this is an identity (no exchange added).
    * Filters and column pruning push through Repartition, so pushdown is
    * unaffected.
    *
    * Opt-in rather than default because the exchange is a net LOSS for
    * scan/agg-bound consumers: a light aggregation over a small unsplit
    * scan finishes faster in one task than behind an extra 32-task stage
    * (measured: blanket spread cost the q/ev/w families +0.3–1 s each
    * while buying the ann/dd/cur/mart families 2–4×). The consumer knows
    * whether per-row compute dominates its scan; the loader cannot.
    */
  def wide(spark: SparkSession, dir: String, name: String): DataFrame =
    spread(spark, apply(spark, dir, name), s"$dir/$name.parquet")

  /** The probe (`df.rdd.getNumPartitions`) forces physical planning of the
    * scan, ~100 ms of driver time — memoized per (path, parallelism): the
    * split count of a fixed file set is a property of the files, and a gate
    * sweep reads the same ten tables hundreds of times.
    */
  private val spreadMemo = new java.util.concurrent.ConcurrentHashMap[(String, Int), Boolean]()

  /** exposed for TablesSpec: a scan at less than half the session's width
    * wastes cores; at or above half, an exchange buys nothing */
  private[graft] def shouldSpread(scanPartitions: Int, target: Int): Boolean =
    scanPartitions * 2 < target

  private def spread(spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    val needed = spreadMemo.computeIfAbsent((path, target),
      _ => shouldSpread(df.rdd.getNumPartitions, target))
    if (needed) df.repartition(target) else df
  }

  /** Planted-cohort re-key (the tx15 convention: gate entries that must
    * exercise a path the synthetic corpus never hits plant a re-keyed
    * cohort at doc_id + 3 000 000). A corpus whose doc_ids reach the
    * offset would silently MERGE distinct documents under one id — and
    * because the DuckDB oracle applies the identical arithmetic, the
    * gate would stay green through the collision (ADVICE r17). So the
    * collision fails loudly instead — but the guard is stated against
    * the generator CONTRACT, not the absolute id: every corpus this
    * repo synthesizes has ids in contiguous blocks based at multiples
    * of [[ScaleGen.Shift]] (the driver testdata at block 0; ScaleGen
    * ladder copies at copy·Shift), so a re-key is collision-free iff
    * the IN-BLOCK offset stays below `offset` (re-keyed ids then land
    * in the block's [offset, 2·offset) gap, and 2·offset ≤ Shift keeps
    * them short of the next block). An absolute `id < offset` check
    * would false-positive on every ScaleGen copy ≥ 1 — whose ids start
    * at 10⁷ yet collide with nothing (review r18). Row-local, no extra
    * pass or shuffle; contiguity from the block base is the one
    * assumption, same as the original guard's.
    */
  def plantedId(id: Column, offset: Long = 3000000L): Column = {
    require(2 * offset <= ScaleGen.Shift,
      s"planted offset $offset overruns the ${ScaleGen.Shift} block stride")
    when(id % ScaleGen.Shift < offset, id + offset)
      .otherwise(raise_error(concat(
        lit("planted re-key collision: doc_id "), id.cast("string"),
        lit(s" has in-block offset >= $offset"))).cast(LongType))
  }

  /** Parquet isAdjustedToUTC=false timestamps surface as TIMESTAMP_NTZ in
    * Spark 4; with a UTC session the wall-clock reading is the same instant,
    * so cast to TIMESTAMP once here and keep every downstream expression
    * (unix_millis, date_format, window) on the standard type — matching how
    * DuckDB reads the same files.
    */
  private def normalizeNtz(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.collect { case f if f.dataType == TimestampNTZType => f.name }
    ntz.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))
  }

  /** Requires `spark.sql.legacy.parquet.nanosAsLong=true`, set once in
    * SparkEntry.configure (not here: a read-side conf mutation would leak
    * into unrelated reads mid-session — ADVICE r01). Spark's parquet
    * reader has no per-read option for TIMESTAMP(NANOS) columns.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType =>
        // integer division: ns values (~1.7e18) exceed double's 2^53 mantissa
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      // timestamp[us] isAdjustedToUTC=false reads as TIMESTAMP_NTZ; fold it
      // into the standard type like every other table so unix_micros et al.
      // keep analyzing regardless of how the file was encoded.
      case _ => normalizeNtz(raw)
    }
  }
}
