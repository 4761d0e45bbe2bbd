package graft

import org.apache.spark.SparkFiles
import org.apache.spark.sql.SparkSession

/** Where the tables a gate entry writes to disk live, and for how long.
  *
  * A root is `graft_<tag>_<dir>` inside the driver's `userFiles-<uuid>`
  * directory ([[SparkFiles.getRootDirectory]]), which is unique per
  * SparkContext. Spark deletes that directory when the context stops and
  * registers it for deletion at JVM exit, so scratch goes with the
  * context that wrote it; only a killed JVM leaves it behind, as it does
  * Spark's own temp dirs. Specs match scan paths on the `graft_<tag>_`
  * prefix.
  */
object Scratch {
  private val built = scala.collection.mutable.Set.empty[String]

  /** `tag`'s root for corpus `dir` in `s`'s context. */
  def root(s: SparkSession, tag: String, dir: String): String = {
    // SparkFiles reads the running context's env: it is `s`'s only while
    // `s`'s context is the live one
    require(!s.sparkContext.isStopped, s"scratch $tag requested on a stopped SparkContext")
    new java.io.File(SparkFiles.getRootDirectory(),
      s"graft_${tag}_" + dir.replaceAll("[^A-Za-z0-9._-]", "_")).getAbsolutePath
  }

  /** [[root]], after `build` has run on it once: a new context or another
    * `dir` is another root and builds again. The root counts as built only
    * once `build` returns, so a build that threw runs again on the next
    * call.
    */
  def once(s: SparkSession, tag: String, dir: String)(build: String => Unit): String = {
    val r = root(s, tag, dir)
    built.synchronized {
      if (!built(r)) {
        build(r)
        built += r
      }
    }
    r
  }
}
