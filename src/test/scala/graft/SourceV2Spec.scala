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

  test("limit pushdown stops the HTTP page loop: pages past the limit are never fetched") {
    val dir = java.nio.file.Files.createTempDirectory("yg_limit").toFile
    def write(name: String, body: String): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, name), "UTF-8")
      try w.write(body) finally w.close()
    }
    write("columns__all__0.json",
      """{"paging":{"next":false},"content":[{"id":"colA","title":"A","boardId":"b1"}]}""")
    // page 0 claims a next page that DOES NOT EXIST on disk: a reader
    // that walks past the pushed limit throws on the missing file, so a
    // green limited read proves the page loop stopped early (and the
    // unbounded read below proves the fixture really demands page 2 —
    // the pin is non-vacuous)
    write("tasks__colA__0.json",
      """{"paging":{"next":true},"content":[
        |{"id":"t1","title":"x","timestamp":1,"columnId":"colA"},
        |{"id":"t2","title":"y","timestamp":2,"columnId":"colA"}]}""".stripMargin)
    val s = SparkEntry.configure(spark)
    def frame = s.read.format("yougile").option("entity", "tasks")
      .option("fixtureDir", dir.getAbsolutePath).load()
    intercept[Exception](frame.collect())
    val limited = frame.limit(2)
    assert(scanOf(limited).scan.description().contains("PushedLimit: 2"),
      s"limit not pushed: ${scanOf(limited).scan.description()}")
    assert(limited.collect().map(_.getAs[String]("id")).toSet == Set("t1", "t2"))
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

  test("micro-batch stream: paced column backfill equals the batch read") {
    import org.apache.spark.sql.streaming.Trigger
    val s = SparkEntry.configure(spark)
    val stream = s.readStream.format("yougile")
      .option("entity", "tasks")
      .option("fixtureDir", Fixtures.jsonDir)
      .option("columnsPerBatch", "2")
      .load()
    val q = stream.writeStream.format("memory").queryName("yg_stream_mem")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = s.table("yg_stream_mem")
      .orderBy(col("id").asc_nulls_first).collect().toSeq
    val want = read("tasks")
      .orderBy(col("id").asc_nulls_first).collect().toSeq
    assert(got == want, s"stream drained ${got.size} rows, batch has ${want.size}")
    // admission control really paced: 8 columns at 2/batch => >= 4
    // batches (trailing columns may be empty — count batches, not rows)
    assert(q.recentProgress.length >= 4,
      s"expected paced batches, saw ${q.recentProgress.map(_.numInputRows).mkString(",")}")
  }

  test("columnId filters prune PARTITIONS: one fetch for an equality, zero for a miss") {
    val cols = read("columns").select("id").collect().map(_.getString(0)).sorted
    val one = read("tasks")
      .filter(col("columnId") === cols.head)
    assert(one.rdd.getNumPartitions == 1, "equality filter did not prune to one partition")
    assert(one.collect().forall(_.getAs[String]("columnId") == cols.head))
    val two = read("tasks")
      .filter(col("columnId").isin(cols.head, cols.last))
    assert(two.rdd.getNumPartitions == 2, "IN filter did not prune to two partitions")
    val none = read("tasks")
      .filter(col("columnId") === "no-such-column")
    assert(none.rdd.getNumPartitions <= 1 && none.count() == 0)
    // conjunction: only the columnId leg is consumed; the rest stays
    val conj = read("tasks")
      .filter(col("columnId") === cols.head && col("title").isNotNull)
    assert(conj.rdd.getNumPartitions == 1)
    assert(conj.count() == one.filter(col("title").isNotNull).count())
  }
}
