package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.Deduplicate

/** The two Spark internals the benchmark reads from outside the pipeline:
  * draining the listener bus before counters are read, and the input of a
  * frame's outermost full-row dedup.
  */
object EtlBenchAccess {
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The frame a `dropDuplicates()` reads, if `df`'s plan has one. */
  def dedupInput(df: DataFrame): Option[DataFrame] =
    df.queryExecution.analyzed.collectFirst { case d: Deduplicate => d.child }
      .map(p => classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession], p))
}
