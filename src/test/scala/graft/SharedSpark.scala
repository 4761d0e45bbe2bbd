package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole forked test JVM (Test / fork := true):
  * session startup dominates suite runtime, so suites share it and never
  * stop it — JVM exit cleans up.
  */
object SharedSpark {
  lazy val spark: SparkSession = SparkEntry.configure(LocalSession(2))

  /** A fresh path in [[spark]]'s scratch ([[Scratch.root]]): it goes when
    * the JVM exits, with the context's temp dir.
    */
  def scratchDir(tag: String): String =
    Scratch.root(spark, tag, java.util.UUID.randomUUID().toString.take(8))
}
