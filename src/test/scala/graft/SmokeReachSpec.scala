package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The product reaches the gate battery only through what it calls:
  * `graft.Dev smoke` (`SparkEntry.entry`: `configure`, then `Mart.build`)
  * runs in a child JVM with the class-load log on, and may load no
  * `graft.queries` class but the Mart module and the `QueryModule` trait
  * it implements. `configure` initializing the query registry would load
  * every module.
  */
class SmokeReachSpec extends AnyFunSuite {
  private val Loaded = """^\[.*\] graft\.queries\.(\S+) source: .*$""".r

  test("Dev smoke loads no graft.queries module but Mart") {
    val javaBin = new java.io.File(sys.props("java.home"), "bin/java").getAbsolutePath
    val jvmFlags = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val cmd = Seq(javaBin) ++ jvmFlags ++
      Seq("-Xlog:class+load=info", "-cp", sys.props("java.class.path"), "graft.Dev", "smoke")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val lines = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor() == 0, lines.takeRight(20).mkString("\n"))
    assert(lines.exists(_.startsWith("[entry-smoke] rows=")))
    val loaded = lines.collect { case Loaded(c) => c }.toSet
    assert(loaded.contains("Mart$"))
    val stray = loaded.filterNot(c => c == "QueryModule" || c.startsWith("Mart$"))
    assert(stray.isEmpty, s"Dev smoke loaded gate modules: ${stray.toSeq.sorted.mkString(", ")}")
  }
}
