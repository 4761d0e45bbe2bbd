package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Bucketed-table layout for co-located joins (the brief's "bucketing for
  * co-located joins" lever).
  *
  * Two tables bucketed by the same key into the same bucket count join
  * WITHOUT a shuffle: the scan's bucket files already satisfy the join's
  * required hash distribution, so Spark plans a sort-merge join whose
  * children are bare scans — at 100 TB this removes the dominant exchange
  * of every fact-fact join that repeats across runs (write once, join
  * many times). Bucket pruning additionally skips files on point lookups.
  */
object Bucketing {

  /** Writes `df` bucketed by `key` as the external table `table` at
    * `path`, replacing any table of that name: the catalog holds the
    * bucket spec, `path` holds the files, so the data lives wherever its
    * caller's scratch does (never in the session's warehouse dir).
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
      path: String): Unit = {
    df.sparkSession.sql(s"DROP TABLE IF EXISTS `$table`")
    df.write
      .mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)
  }
}
