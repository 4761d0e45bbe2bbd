package graft

import org.apache.spark.sql.SparkSession

/** The one builder for sessions the project runs itself: `local[cpus]`,
  * one shuffle partition per core, UTC session time, no UI, no
  * per-session artifact isolation. spark-submit
  * sessions (`graft.app.Main`) take their master from the launcher.
  */
object LocalSession {
  def apply(cpus: Int, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // One executor-side session for every session of this context.
      // With artifact isolation on (Spark 4's default) each session, and
      // so each per-call clone `SparkEntry.queries` makes, runs its tasks
      // under its own executor class loader, and the codegen cache (keyed
      // by class loader) compiles every generated class again per clone.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
