package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.yougile.{Fixtures, JsonFixtureClient, YouGileConfig, YouGileSource}

/** Pins for the DataSource V2 connector (graft.sources.YouGileTableProvider;
  * yg_dsv2_tasks gate entry): per-column partition planning, column-pruning
  * pushdown into the JSON parse, short-name registration, and equality with
  * the driver-side reader path for every entity.
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

  test("aggregate pushdown: COUNT(*) per columnId is answered by the source") {
    val df = read("tasks")
      .groupBy("columnId").agg(count(lit(1)).as("n"))
    val scan = scanOf(df)
    assert(scan.scan.description().contains("PushedAggregates: [COUNT(*)]"),
      s"aggregate not pushed: ${scan.scan.description()}")
    assert(scan.scan.description().contains("PushedGroupBy: [columnId]"))
    // the scan's output is the census, not task rows
    assert(scan.scan.readSchema().fieldNames.toSeq == Seq("columnId", "count_star_0"))
    // and the merged result equals the un-pushed census (computed over a
    // different shape the rule cannot push: count over a distinct grain)
    val expected = read("tasks")
      .select("columnId", "id").collect()
      .groupBy(_.getString(0)).view.mapValues(_.length.toLong).toMap
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected && got.nonEmpty)
  }

  test("aggregate pushdown: COUNT(col) skips nulls; global count has no group columns") {
    // subtasks is null on some fixture tasks — COUNT(subtasks) < COUNT(*)
    val df = read("tasks")
      .agg(count(lit(1)).as("n_all"), count(col("subtasks")).as("n_subtasks"))
    val scan = scanOf(df)
    assert(scan.scan.description().contains(
      "PushedAggregates: [COUNT(*), COUNT(subtasks)]"), scan.scan.description())
    assert(scan.scan.description().contains("PushedGroupBy: []"))
    val row = df.collect().head
    val raw = read("tasks").select("subtasks").collect()
    assert(row.getLong(0) == raw.length.toLong)
    assert(row.getLong(1) == raw.count(!_.isNullAt(0)).toLong)
    assert(row.getLong(1) < row.getLong(0),
      "no null subtasks in the fixtures — the null-skip path is vacuous")
  }

  test("aggregate pushdown: MIN/MAX/SUM(timestamp) fold inside the readers") {
    val df = read("tasks")
      .groupBy("columnId")
      .agg(min(col("timestamp")).as("mn"), max(col("timestamp")).as("mx"),
        sum(col("timestamp")).as("sm"))
    val scan = scanOf(df)
    assert(scan.scan.description().contains(
      "PushedAggregates: [MIN(timestamp), MAX(timestamp), SUM(timestamp)]"),
      scan.scan.description())
    // merged result equals the un-pushed computation over raw rows
    val raw = read("tasks")
      .select("columnId", "timestamp").collect()
      .groupBy(_.getString(0)).view.mapValues { rs =>
        val ts = rs.map(_.getLong(1))
        (ts.min, ts.max, ts.sum)
      }.toMap
    val got = df.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == raw && got.nonEmpty)
  }

  test("aggregate pushdown falls back cleanly on shapes the source refuses") {
    // distinct counts, non-numeric extrema, and avg stay with Spark
    val df = read("tasks")
      .groupBy("columnId").agg(countDistinct(col("id")).as("n"))
    val scan = scanOf(df)
    assert(!scan.scan.description().contains("PushedAggregates"),
      s"distinct count must not push: ${scan.scan.description()}")
    assert(df.collect().forall(_.getLong(1) > 0))
    val mx = read("tasks")
      .agg(max(col("title")).as("m")) // string extremum: refused
    assert(!scanOf(mx).scan.description().contains("PushedAggregates"))
    assert(!mx.collect().head.isNullAt(0))
    // AVG is not pushed as itself — Spark decomposes it into
    // SUM + COUNT partials, both of which the source answers
    val av = read("tasks")
      .agg(avg(col("timestamp")).as("a"))
    assert(scanOf(av).scan.description().contains(
      "PushedAggregates: [SUM(timestamp), COUNT(timestamp)]"),
      scanOf(av).scan.description())
    val ts = read("tasks")
      .select("timestamp").collect().map(_.getLong(0))
    assert(av.collect().head.getDouble(0) == ts.sum.toDouble / ts.length)
  }

  test("unknown entity fails fast with the supported list") {
    val e = intercept[Exception](read("nope").collect())
    assert(e.getMessage.contains("boards|columns|string-stickers|tasks"))
  }
}
