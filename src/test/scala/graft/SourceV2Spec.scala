package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.yougile.{Fixtures, JsonFixtureClient, YouGileConfig, YouGileSource}

/** Pins for the DataSource V2 connector (graft.sources.YouGileTableProvider;
  * yg_dsv2_tasks gate entry): per-column partition planning, column-pruning
  * pushdown into the JSON parse, aggregates left to Spark above the pruned
  * scan, short-name registration, and equality with the driver-side reader
  * path for every entity.
  */
class SourceV2Spec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def read(entity: String): DataFrame =
    SparkEntry.configure(spark).read.format("yougile")
      .option("entity", entity)
      .option("fixtureDir", Fixtures.jsonDir)
      .load()

  private def scanOf(df: DataFrame): BatchScanExec = {
    val s = SparkEntry.configure(spark)
    val prev = s.conf.get("spark.sql.adaptive.enabled")
    try {
      s.conf.set("spark.sql.adaptive.enabled", "false")
      val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      assert(scans.size == 1, "expected exactly one v2 scan")
      scans.head
    } finally s.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("tasks scan plans one InputPartition per board column") {
    val df = read("tasks")
    // 8 columns in the fixture universe → 8 source partitions
    assert(df.rdd.getNumPartitions == 8)
    assert(df.count() > 0)
  }

  test("column pruning reaches the source: select(id) scans a 1-field schema") {
    val pruned = scanOf(read("tasks").select("id"))
    assert(pruned.scan.readSchema().fieldNames.toSeq == Seq("id"),
      s"pushdown missed: ${pruned.scan.readSchema()}")
    val full = scanOf(read("tasks"))
    assert(full.scan.readSchema().fieldNames.length == 6)
  }

  test("every entity matches the driver-side reader path row for row") {
    val s = SparkEntry.configure(spark)
    val src = new YouGileSource(s, new JsonFixtureClient(Fixtures.jsonDir), YouGileConfig.fixture)
    def sorted(df: DataFrame) = df.orderBy(col("id").asc_nulls_first).collect().toSeq
    assert(sorted(read("boards")) == sorted(src.boards()))
    assert(sorted(read("columns")) == sorted(src.columns()))
    assert(sorted(read("string-stickers")) == sorted(src.stickers()))
    // tasks: the v2 union over ALL columns equals the per-column driver
    // fetch over the same column list
    val allCols = src.columns().select("id").collect().map(_.getString(0)).toSeq
    val v2 = sorted(read("tasks")
      .select("id", "title", "timestamp", "columnId"))
    val drv = sorted(src.contracts(allCols).select("id", "title", "timestamp", "columnId"))
    assert(v2 == drv)
  }

  test("the scan fetches every page while it plans; the executors only decode") {
    import java.nio.file.{Files, Paths}
    val s = SparkEntry.configure(spark)
    val dir = Files.createTempDirectory("yg_driver_fetch")
    Files.list(Paths.get(Fixtures.jsonDir)).forEach(f => { Files.copy(f, dir.resolve(f.getFileName)); () })
    val prev = s.conf.get("spark.sql.adaptive.enabled")
    val rdd =
      try {
        s.conf.set("spark.sql.adaptive.enabled", "false")
        s.read.format("yougile").option("entity", "tasks")
          .option("fixtureDir", dir.toString).load().rdd
      } finally s.conf.set("spark.sql.adaptive.enabled", prev)
    // the pages are gone before any task runs: a reader that fetched
    // them itself would fail here
    Files.list(dir).forEach(f => Files.delete(f))
    Files.delete(dir)
    val got = rdd.collect().toSeq.sortBy(_.getAs[String]("id"))
    val src = new YouGileSource(s, new JsonFixtureClient(Fixtures.jsonDir), YouGileConfig.fixture)
    val allCols = src.columns().select("id").collect().map(_.getString(0)).toSeq
    val want = src.contracts(allCols).collect().toSeq.sortBy(_.getAs[String]("id"))
    assert(got.nonEmpty && got == want)
  }

  test("a per-column census aggregates above a pruned scan, not inside it") {
    // the yg_dsv2_census shape
    val df = read("tasks")
      .groupBy("columnId").agg(count(lit(1)).as("n"), count(col("subtasks")).as("n_subtasks"))
    val scan = scanOf(df).scan
    assert(scan.readSchema().fieldNames.toSeq == Seq("columnId", "subtasks"),
      s"the scan should read task rows: ${scan.readSchema()}")
    assert(!scan.description().contains("PushedAggregates"), scan.description())
    val expected = read("tasks").select("columnId", "subtasks").collect()
      .groupBy(_.getString(0)).view
      .mapValues(rs => (rs.length.toLong, rs.count(!_.isNullAt(1)).toLong)).toMap
    val got = df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected && got.nonEmpty)
    assert(got.values.exists { case (n, withSubtasks) => withSubtasks < n },
      "no null subtasks in the fixtures: the null-skipping count is vacuous")
  }

  test("unknown entity fails fast with the supported list") {
    val e = intercept[Exception](read("nope").collect())
    assert(e.getMessage.contains("boards|columns|string-stickers|tasks"))
  }
}
