package graft

import org.apache.spark.sql.SparkSession

/** The one builder for sessions the project runs itself: `local[cpus]`,
  * one shuffle partition per core, UTC session time, no UI. spark-submit
  * sessions (`graft.app.Main`) take their master from the launcher.
  */
object LocalSession {
  def apply(cpus: Int, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
