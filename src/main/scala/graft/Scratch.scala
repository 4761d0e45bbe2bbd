package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkFiles
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Where the tables a gate entry writes to disk live, and for how long.
  *
  * A root is `graft_<tag>_<dir>` inside the driver's `userFiles-<uuid>`
  * directory ([[SparkFiles.getRootDirectory]]), which is unique per
  * SparkContext. Spark deletes that directory when the context stops and
  * registers it for deletion at JVM exit, so scratch goes with the
  * context that wrote it; only a killed JVM leaves it behind, as it does
  * Spark's own temp dirs. Specs match scan paths on the `graft_<tag>_`
  * prefix.
  *
  * A view several gate entries derive from (an edge list, a trained
  * codebook, a near-dup pair table) is a table here too ([[shared]]):
  * built by the first entry that asks and read by the rest, so nothing a
  * view holds stays in executor storage between entries.
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

  // each shared root's schema, as built: a read that names it skips the
  // Spark job parquet schema inference runs
  private val schemas = new ConcurrentHashMap[String, StructType]()
  private val accessCount = new AtomicLong()
  private val buildCount = new AtomicLong()

  /** [[shared]] calls so far, and the ones among them that built their
    * table: [[Bench]] reads both between entries to tell the entries that
    * built a shared view from those that only read one.
    */
  def accesses: Long = accessCount.get
  def builds: Long = buildCount.get

  /** `build`'s rows as a table at [[once]]'s root, read back on `s`. The
    * first call for a root writes it (overwriting whatever a build that
    * threw part-way left there) and then releases `build`'s cache, so one
    * copy of the view is held, on disk. A view built over another view
    * builds the inner one first: the lock [[once]] holds is reentrant.
    * The frame is read on the asking session, so a consumer's plan runs
    * under its own confs.
    */
  def shared(s: SparkSession, tag: String, dir: String)(build: => DataFrame): DataFrame = {
    accessCount.incrementAndGet()
    val r = once(s, tag, dir) { root =>
      val b = build
      b.write.mode("overwrite").parquet(root)
      b.unpersist()
      schemas.put(root, b.schema)
      buildCount.incrementAndGet()
    }
    s.read.schema(schemas.get(r)).parquet(r)
  }
}
