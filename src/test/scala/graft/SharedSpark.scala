package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole forked test JVM (Test / fork := true):
  * session startup dominates suite runtime, so suites share it and never
  * stop it — JVM exit cleans up.
  */
object SharedSpark {
  lazy val spark: SparkSession = SparkEntry.configure(LocalSession(2))
}
