package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.SparkListener
import org.scalatest.funsuite.AnyFunSuite

/** Marks that a SparkContext started in this JVM: creates the file the
  * `graft.sessionMarker` system property names. A child JVM registers it
  * through `spark.extraListeners`, which every context instantiates.
  */
class SessionStartMarker extends SparkListener {
  Files.createFile(Path.of(sys.props("graft.sessionMarker")))
}

/** Bench and Verify read one entry filter, `SPARK_GRAFT_ONLY`, through
  * [[Bench.onlyEntries]]: a typo must stop the run before it measures or
  * checks nothing, not select zero entries and exit 0.
  */
class EntryFilterSpec extends AnyFunSuite {

  test("a known list selects exactly those entries; unset selects every entry") {
    val two = SparkEntry.queries.keys.toSeq.sorted.take(2)
    assert(Bench.onlyEntries(Map("SPARK_GRAFT_ONLY" -> s" ${two(0)}, ${two(1)} ,")).contains(two.toSet))
    assert(Bench.onlyEntries(Map.empty).isEmpty)
  }

  test("an unknown name, or a list that names none, is refused") {
    val e = intercept[IllegalArgumentException](
      Bench.onlyEntries(Map("SPARK_GRAFT_ONLY" -> "yg_hub_states,no_such_entry")))
    assert(e.getMessage.contains("no_such_entry") && !e.getMessage.contains("yg_hub_states"))
    intercept[IllegalArgumentException](Bench.onlyEntries(Map("SPARK_GRAFT_ONLY" -> " , ")))
  }

  /** `main args` in a child JVM with this JVM's classpath and flags and
    * `SPARK_GRAFT_ONLY=only`: (exit code, output, whether a SparkContext
    * started).
    */
  private def runMain(main: String, args: Path => Seq[String], only: String): (Int, String, Boolean) = {
    val dir = Files.createTempDirectory("entry_filter")
    try {
      val marker = dir.resolve("session-started")
      val log = dir.resolve("out.log")
      val javaBin = Path.of(sys.props("java.home"), "bin", "java").toString
      val flags = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      val pb = new ProcessBuilder((Seq(javaBin) ++ flags ++ Seq(
        s"-Dspark.extraListeners=${classOf[SessionStartMarker].getName}",
        s"-Dgraft.sessionMarker=$marker",
        "-cp", sys.props("java.class.path"), main) ++ args(dir)): _*)
      pb.environment().put("SPARK_GRAFT_ONLY", only)
      pb.environment().put("SPARK_GRAFT_SF_DIR", dir.toString)
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", dir.resolve("bench.json").toString)
      pb.environment().put("SPARK_GRAFT_CPUS", "2")
      pb.redirectErrorStream(true).redirectOutput(log.toFile)
      val p = pb.start()
      val done = p.waitFor(3, TimeUnit.MINUTES)
      if (!done) p.destroyForcibly().waitFor()
      (if (done) p.exitValue() else -1, Files.readString(log), Files.exists(marker))
    } finally org.apache.spark.sql.GraftShims.deleteRecursively(dir.toFile)
  }

  test("Bench and Verify refuse an unknown entry, naming it, before a session starts") {
    Seq[(String, Path => Seq[String])](
      "graft.Bench" -> (_ => Nil),
      "graft.Verify" -> (d => Seq(d.toString, d.resolve("out").toString))).foreach { case (main, args) =>
      val (code, out, started) = runMain(main, args, "yg_hub_states,no_such_entry")
      assert(code != 0, s"$main exited 0:\n$out")
      assert(out.contains("no_such_entry"), s"$main did not name the entry:\n$out")
      assert(!started, s"$main started a session before refusing:\n$out")
    }
  }
}
