package etlbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark session and page server for the whole test JVM. */
object TestSession {
  lazy val work: Path = Files.createDirectories(Paths.get("target", "test-work").toAbsolutePath)
  lazy val spark: SparkSession = Main.session(2, work)
  lazy val server: PageServer = new PageServer

  /** A benchmark over a tiny workspace served by [[server]]. */
  def bench(seed: Long, expect: Workspace => Expect = _.expect, shape: Shape = Shape.tiny): Bench = {
    val ws = new Workspace(shape, seed)
    new Bench(spark, server, ws, seconds = 0, cores = 2, work, expect(ws))
  }
}
