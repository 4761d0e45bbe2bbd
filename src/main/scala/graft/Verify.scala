package graft
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Dev loop: SPARK_GRAFT_ONLY=q1,q2 restricts the dump (and the oracle
    // json) to the named entries; a gate run never sets it. An unknown
    // name is refused before the session starts (Bench.onlyEntries):
    // check_oracle.py exits 0 on an empty oracle map.
    val only = Bench.onlyEntries(sys.env)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt // brief: local[32], 32 shuffle partitions
    val spark = LocalSession(cpus)
    new java.io.File(outDir).mkdirs()
    def selected(name: String) = only.forall(_.contains(name))
    SparkEntry.queries.filter(e => selected(e._1)).foreach { case (name, fn) =>
      // Pre-delete the query's output dir: a throw below must leave NO
      // files, or stale parquet from a previous run would make the
      // checker report a false PASS for a now-broken query. The checker
      // reports the missing dir as a per-query FAIL, so the exit code
      // stays 0 and one broken query can't zero out the whole round. A
      // delete that leaves the dir behind throws and stops the dump.
      org.apache.spark.sql.GraftShims.deleteRecursively(new java.io.File(s"$outDir/$name"))
      // Write the sorted range partitions as-is (multi-file): the checker
      // concatenates part files in name order, which preserves the global
      // sort. coalesce(1) (r01) fused the whole final stage into one
      // task; repartition(1) would shuffle AFTER the sort and lose row
      // order — plain parallel write is the correct idiom.
      // Bench.swept releases everything the entry registered (SQL caches
      // such as the LSH signature frames, localCheckpoint blocks,
      // streaming state) so it does not occupy executor memory for the
      // rest of the dump
      try Bench.swept(spark, fn(spark, sfDir))(
        _.write.mode("overwrite").parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    new ObjectMapper().writeValue(new java.io.File(s"$outDir/oracle_sql.json"),
      SparkEntry.oracleSql.filter(e => selected(e._1)).asJava)
    spark.stop()
  }
}
