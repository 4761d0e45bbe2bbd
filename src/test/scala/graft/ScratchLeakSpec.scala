package graft

import java.io.File

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Gate scratch goes with the run: a child JVM (fresh `java.io.tmpdir`,
  * `SPARK_LOCAL_DIRS` and working directory) runs `graft.Verify` over
  * every entry that writes a table to disk, plus one reader of each
  * family's shared views ([[Scratch.shared]]: graph, IVF, near-dup, BPE),
  * and after it exits none of the three holds a `graft_*` path.
  */
class ScratchLeakSpec extends AnyFunSuite {
  private val Entries = Seq(
    "cmp1_compacted_table", "dpp1_partition_pruned_join", "opt5_mv_rewrite",
    "opt6_mv_refresh", "opt10_star_mv", "opt11_star_mv_refresh",
    "opt12_filtered_star_mv", "inc3_join_ivm", "inc4_delete_ivm", "inc5_minmax_ivm",
    "sw12_exactly_once_sink", "sw14_stream_decontam_append", "ann14_topk_pruned",
    "bkt1_bucketed_join", "dd10_incremental_neardup",
    "g3_degree_census", "ann2_topk_ivf", "dd7_dup_clusters", "tok1_bpe_merges")

  /** `graft_*` paths under `dir`, not descending into a match. */
  private def graftPaths(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.getName.startsWith("graft_")) Seq(f)
      else if (f.isDirectory) graftPaths(f)
      else Nil
    }

  test("a Verify run over the scratch-writing entries leaves no graft_* path") {
    val base = java.nio.file.Files.createTempDirectory("scratch_leak").toFile
    try {
      val Seq(tmp, local, cwd) = Seq("tmp", "local", "cwd").map(new File(base, _))
      Seq(tmp, local, cwd).foreach(_.mkdirs())
      val out = new File(base, "out")
      val javaBin = new File(sys.props("java.home"), "bin/java").getAbsolutePath
      val jvmFlags = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
      val cmd = Seq(javaBin) ++ jvmFlags ++
        Seq("-Xmx2g", s"-Djava.io.tmpdir=$tmp", "-cp", sys.props("java.class.path"),
          "graft.Verify", "/root/testdata/sf0.001", out.getPath)
      val pb = new ProcessBuilder(cmd: _*).directory(cwd).redirectErrorStream(true)
      pb.environment().put("SPARK_GRAFT_ONLY", Entries.mkString(","))
      pb.environment().put("SPARK_GRAFT_CPUS", "2")
      pb.environment().put("SPARK_LOCAL_DIRS", local.getPath)
      val proc = pb.start()
      val lines = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
      assert(proc.waitFor() == 0, lines.takeRight(20).mkString("\n"))
      val missing = Entries.filterNot(e => new File(out, e).isDirectory)
      assert(missing.isEmpty, s"entries without output: $missing\n${lines.takeRight(20).mkString("\n")}")
      val left = Seq(tmp, local, cwd).flatMap(graftPaths)
      assert(left.isEmpty, s"scratch outlived the run:\n${left.mkString("\n")}")
    } finally org.apache.spark.sql.GraftShims.deleteRecursively(base)
  }
}
