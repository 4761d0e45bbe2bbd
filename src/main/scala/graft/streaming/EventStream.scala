package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared plumbing for the gate's streaming queries (beyond-reference:
  * the YouGile pipeline is hourly batch, SURVEY.md §2.10): the file
  * stream source over a testdata table and the state-partition sizing
  * every stateful query runs under. The queries themselves are spelled
  * once each, where the gate runs them ([[graft.queries.StreamingGate]],
  * [[graft.queries.Dedup]]).
  */
object EventStream {

  /** State partitions for the gate's stateful streaming queries —
    * VOLUME-ADAPTIVE (r16 VERDICT #6). Streaming state partition count
    * is pinned by `spark.sql.shuffle.partitions` at the query's FIRST
    * batch and is exempt from AQE coalescing, so unlike batch exchanges
    * it never self-corrects; it must be sized to the stream's volume
    * explicitly, exactly as a production deployment sizes it to key
    * count. Both failure directions were MEASURED on the stream-stream
    * joins: at sf0.1 (200k rows) the session's 32 core-count partitions
    * made the per-partition state-store fixed cost dominant (a
    * stream-stream join runs FOUR stores per partition, each with
    * per-batch snapshot/commit: sw9 addBatch 5.0 s → 1.95 s at 8
    * partitions, wall 6.2 → 3.2 s), while at sf10 (20M rows) 8
    * partitions starved compute parallelism (sw5 27.4 s vs 8.6 s at
    * 32). The rule — one partition per [[StateTargetBytes]] of source,
    * clamped to [8, cores] — reproduces the measured optimum at both
    * ends.
    */
  private val StateTargetBytes = 4L << 20

  def statePartitionsFor(s: org.apache.spark.sql.SparkSession, dir: String,
      table: String = "events"): Int = {
    val f = new java.io.File(dir, table + ".parquet")
    val bytes =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(_.length()).sum
      else f.length()
    val cores = s.sparkContext.defaultParallelism
    if (bytes <= 0L) {
      // java.io.File can only size LOCAL paths; a remote (hdfs://,
      // s3a://) or missing source reads 0 here, which would silently
      // pin every stream to the 8-partition floor — the sf10-starving
      // direction (ADVICE r17). Unknown volume → core count, the
      // setting a production deployment starts from before tuning down.
      System.err.println(s"[stream] WARNING: cannot size $f locally " +
        s"(missing or non-local path) — defaulting state partitions to $cores")
      cores
    } else math.max(8, math.min(cores, (bytes / StateTargetBytes).toInt + 1))
  }

  /** Run `body` (which starts and drains a streaming query) under an
    * explicit state-partition count, restoring the session setting
    * after. `n <= 0` leaves the session setting in place (per-key
    * CPU-bound operators like sw10's session merge want core-count
    * parallelism at scale, not minimal store count).
    *
    * NOTE: mutates `spark.sql.shuffle.partitions` on `s` for the
    * duration of `body`. Gate entries run on their own session clone
    * (`SparkEntry.queries`), so the temporary value reaches no other
    * entry; the restore scopes it within the entry, whose later batch
    * steps (the sort over the drained table) plan at the entry's width.
    */
  def withStatePartitions[T](s: org.apache.spark.sql.SparkSession, n: Int)(body: => T): T = {
    if (n <= 0) body
    else {
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", n.toString)
      try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }

  /** File stream source over one testdata table, handling BOTH layouts
    * a table can arrive in: the driver's plain single FILE (streamed
    * via a name glob over the shared dir — the file stream source
    * itself requires a directory path) and a Spark-written DIRECTORY
    * of part files, where that same glob matches nothing
    * (`pathGlobFilter` tests leaf file names — the round-15 find that
    * had every sf1+ streaming pressure probe reading zero rows).
    * Schema comes from the batch read of the same path, so both
    * layouts stream with their true file schema.
    */
  def streamSource(s: SparkSession, dir: String, table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    val fileSchema = s.read.parquet(path).schema
    if (new java.io.File(path).isDirectory)
      s.readStream.schema(fileSchema)
        .option("pathGlobFilter", "*.parquet").parquet(path)
    else s.readStream.schema(fileSchema)
      .option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }
}
