package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named group of gate queries: each entry pairs a Spark plan with (where
  * SQL can express it) a DuckDB oracle over the same parquet tables.
  * SparkEntry concatenates all modules (SURVEY.md §5, "DuckDB-oracle
  * differential tests").
  */
trait QueryModule {
  /** name -> (session, sfDir) -> result. Column names MUST match the oracle's. */
  def defs: Map[String, (SparkSession, String) => DataFrame]
  /** name -> equivalent ANSI SQL for DuckDB; omit keys that SQL can't express. */
  def oracle: Map[String, String]
  /** Ladder-documented SCALE-BOUNDARY probes (r17 VERDICT #4): entries
    * whose semantics are correct but whose physical shape is a measured
    * disk-death at the 100× rung (dd6's hot-anchor fan-out, dd12's
    * true-output explosion) — superseded for production by shipped
    * capped levers (dd19, dd17/dd18). Kept runnable for the dev mains
    * (`graft.Dev` time/explain/show) and the scale ladder, EXCLUDED from
    * the Verify/Bench battery a user would run as-shipped.
    */
  def probes: Map[String, (SparkSession, String) => DataFrame] = Map.empty
}
