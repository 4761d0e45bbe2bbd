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

  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    // idempotent rewrite: a managed location can survive from a previous
    // session whose (in-memory) catalog is gone, and saveAsTable then
    // refuses with LOCATION_ALREADY_EXISTS — drop both catalog entry and
    // any orphaned location before writing
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    org.apache.spark.sql.GraftShims.deleteRecursively(new java.io.File(warehouse, table))
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)
  }
}
