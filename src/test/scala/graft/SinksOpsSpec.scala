package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Retry
import graft.sinks.{Alerter, MartSink, TelegramAlerter}
import graft.yougile._

/** Sinks/ops units plus the orchestrated pipeline run with test doubles:
  * the fixture universe plants 6 dangling lot references, so the run MUST
  * fire the reference's data-loss alert and still load 240 mart rows.
  */
class SinksOpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private class RecordingAlerter extends Alerter {
    var alerts: List[String] = Nil
    override def alert(text: String): Unit = alerts ::= text
  }

  /** Runs the frame, as the MartSink contract requires, then hands it to `keep`. */
  private def capturing(keep: DataFrame => Unit): MartSink = new MartSink {
    override def write(df: DataFrame): Unit = {
      df.write.format("noop").mode("overwrite").save()
      keep(df)
    }
  }

  test("Retry: recovers after transient failures, reports each attempt") {
    var calls = 0
    var reported = List.empty[Int]
    val out = Retry.withRetries(2, (_, attempt) => reported ::= attempt) {
      calls += 1
      if (calls < 3) sys.error(s"boom $calls") else 42
    }
    assert(out == 42 && calls == 3 && reported.reverse == List(0, 1))
  }

  test("Retry: exhausts and rethrows the last failure") {
    var calls = 0
    val e = intercept[RuntimeException] {
      Retry.withRetries(1) { calls += 1; sys.error("always") }
    }
    assert(e.getMessage == "always" && calls == 2)
  }

  test("TelegramAlerter posts the bot-API form to the right URL") {
    var seen: Option[(String, Map[String, String])] = None
    new TelegramAlerter("BOT", "42", (url, form) => { seen = Some((url, form)); "ok" })
      .alert("hello")
    val (url, form) = seen.get
    assert(url == "https://api.telegram.org/botBOT/sendMessage")
    assert(form == Map("chat_id" -> "42", "text" -> "hello"))
  }

  test("a refused Telegram alert returns and prints the status to stderr, not the bot token") {
    import com.sun.net.httpserver.HttpServer
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", ex => { ex.sendResponseHeaders(401, -1); ex.close() })
    server.start()
    val err = new java.io.ByteArrayOutputStream
    val stderr = System.err
    try {
      val loopback = s"http://127.0.0.1:${server.getAddress.getPort}"
      val alerter = new TelegramAlerter("123:S3CRET", "42", (url, form) =>
        TelegramAlerter.defaultTransport(url.replace("https://api.telegram.org", loopback), form))
      System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
      alerter.alert("hello")
    } finally {
      System.setErr(stderr)
      server.stop(0)
    }
    val line = err.toString("UTF-8")
    assert(line.contains("401") && !line.contains("S3CRET"), line)
  }

  test("Pipeline.run on fixtures: fires the data-loss alert, sinks 240 rows, stamps run-ts") {
    val alerter = new RecordingAlerter
    var written: Option[DataFrame] = None
    val sink = capturing(df => written = Some(df))
    val rows = Pipeline.run(spark, new JsonFixtureClient(Fixtures.jsonDir),
      YouGileConfig.fixture, Fixtures.runTs, sink, alerter)
    assert(rows == 240L)
    assert(alerter.alerts == List(Pipeline.DataLossAlert))
    assert(written.get.columns.length == 22)
  }

  test("dynamic partition overwrite replaces only the written partitions") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = SharedSpark.scratchDir("dyn") + "/docs"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.partitionBy("lang").parquet(dir)
    val before = spark.read.parquet(dir).filter(col("lang") =!= "de").count()
    // overwrite ONLY lang=de with a single marker row; static mode would
    // truncate the whole table, dynamic must leave the other langs alone
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      docs.filter(col("lang") === "de").limit(1)
        .withColumn("text", lit("overwritten"))
        .write.mode("overwrite").partitionBy("lang").parquet(dir)
    } finally prev.fold(
      spark.conf.unset("spark.sql.sources.partitionOverwriteMode"))(
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", _))
    val after = spark.read.parquet(dir)
    assert(after.filter(col("lang") =!= "de").count() == before, "untouched partitions changed")
    assert(after.filter(col("lang") === "de").count() == 1, "target partition not replaced")
    assert(after.filter(col("lang") === "de").head.getAs[String]("text") == "overwritten")
  }

  test("Compactor: merges a 64-file table to the byte-derived count, content identical") {
    import org.apache.spark.sql.functions.col
    import graft.sinks.{Compactor, VersionedTable}
    val root = SharedSpark.scratchDir("compact") + "/docs"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val v1 = VersionedTable.publish(spark, root, docs.repartition(64))
    val before = docs.orderBy(col("doc_id")).collect().toSeq
    val (nBefore, bytes) = Compactor.layout(spark, VersionedTable.dataPath(root, v1))
    assert(nBefore == 64)
    // target a third of the table per file -> ceil = 3 output files
    val target = bytes / 3 + 1
    val expected = ((bytes + target - 1) / target).toInt
    val (b, a) = Compactor.compactVersioned(spark, root, target)
    assert(b == 64 && a == expected && a <= 3, s"before=$b after=$a expected=$expected")
    assert(VersionedTable.read(spark, root).orderBy(col("doc_id")).collect().toSeq == before)
    // a huge target floors at one file; an absurdly small one never
    // SPLITS (compaction only merges)
    assert(Compactor.compactVersioned(spark, root, Long.MaxValue)._2 == 1)
    assert(Compactor.compactVersioned(spark, root, 1L)._2 == 1)
  }
  test("VersionedTable: two-phase commit — readers never see a partial table") {
    import org.apache.spark.sql.functions.col
    import graft.sinks.{Compactor, VersionedTable}
    val root = SharedSpark.scratchDir("vtable") + "/docs"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val want = docs.orderBy(col("doc_id")).collect().toSeq

    // bootstrap: v1 = fragmented ingest, atomically published
    assert(VersionedTable.committedVersion(spark, root).isEmpty)
    assert(VersionedTable.publish(spark, root, docs.repartition(64)) == 1L)
    assert(VersionedTable.committedVersion(spark, root).contains(1L))
    assert(Compactor.layout(spark, VersionedTable.dataPath(root, 1L))._1 == 64)
    assert(VersionedTable.read(spark, root).orderBy(col("doc_id")).collect().toSeq == want)

    // CRASH WINDOW 1 — process dies after phase 1 (data staged, no
    // marker): readers must still resolve v1 in full
    VersionedTable.stage(spark, root, 2L, docs.repartition(2))
    assert(VersionedTable.committedVersion(spark, root).contains(1L),
      "unmarked staged data must be invisible")
    assert(VersionedTable.read(spark, root).orderBy(col("doc_id")).collect().toSeq == want)

    // CRASH WINDOW 2 — process dies mid-phase-2 (staging marker written
    // and fsync'd, rename not yet executed): still invisible
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(s"$root/_staging_commit_v2")
    val out = fs.create(staging, true)
    out.writeBytes("v2\n"); out.close()
    assert(VersionedTable.committedVersion(spark, root).contains(1L),
      "a staging marker must not be resolvable")
    assert(VersionedTable.read(spark, root).orderBy(col("doc_id")).collect().toSeq == want)

    // recovery: the restarted job re-runs phase 2 — the atomic rename
    // flips readers from v1-complete to v2-complete with no interleaving
    VersionedTable.commit(spark, root, 2L)
    assert(VersionedTable.committedVersion(spark, root).contains(2L))
    assert(VersionedTable.read(spark, root).orderBy(col("doc_id")).collect().toSeq == want)

    // versioned compaction merges and stays invisible in content
    val (b, a) = Compactor.compactVersioned(spark, root, Long.MaxValue)
    assert(b == 2 && a == 1, s"before=$b after=$a")
    assert(VersionedTable.committedVersion(spark, root).contains(3L))
    assert(VersionedTable.read(spark, root).orderBy(col("doc_id")).collect().toSeq == want)
    // publish-time vacuum keeps the newest TWO committed versions (a
    // reader that resolved v2 just before v3 landed must keep its data
    // files through the publish — ADVICE r12) and GCs older ones
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(root)).map(_.getPath.getName).toSet
    assert(!names.contains("v1") && !names.contains("_commit_v1"),
      s"superseded v1 not vacuumed: $names")
    assert(names.contains("v2") && names.contains("_commit_v2"),
      s"previous version v2 must survive the publish (reader retention): $names")
    // deeper GC is an explicit MAINTENANCE call, not a publish side effect
    VersionedTable.vacuumRetain(spark, root, 1)
    val after = fs.listStatus(new org.apache.hadoop.fs.Path(root)).map(_.getPath.getName).toSet
    assert(!after.contains("v2") && !after.contains("_commit_v2"),
      s"vacuumRetain(1) must GC v2: $after")
    assert(VersionedTable.read(spark, root).orderBy(col("doc_id")).collect().toSeq == want)
  }

  test("VersionedTable: concurrent publishers — claims make version numbers CAS") {
    import org.apache.spark.sql.functions.col
    import graft.sinks.VersionedTable
    val root = SharedSpark.scratchDir("vtable_cas") + "/docs"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    VersionedTable.publish(spark, root, docs.limit(10))

    // the CAS primitive itself: exactly one claim per version number
    assert(VersionedTable.tryClaim(spark, root, 2L), "first claim must win")
    assert(!VersionedTable.tryClaim(spark, root, 2L), "second claim must lose")

    // an interleaved publisher cannot land on the claimed number: it
    // bumps past the (crashed/slow) claimant and commits v3 — the two
    // writers never share a data dir
    val vB = VersionedTable.publish(spark, root, docs.limit(20))
    assert(vB == 3L, s"publisher must skip the claimed v2, got v$vB")
    assert(VersionedTable.committedVersion(spark, root).contains(3L))
    assert(VersionedTable.read(spark, root).count() == 20)

    // two racing publishers: both land, on DISTINCT versions; the final
    // table is exactly one writer's rows, never a mix
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(VersionedTable.publish(spark, root, docs.limit(30)))
    val fb = Future(VersionedTable.publish(spark, root, docs.limit(40)))
    val (va2, vb2) = (Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))
    assert(va2 != vb2, s"racing publishers shared version v$va2")
    val finalRows = VersionedTable.read(spark, root).count()
    val winner = if (va2 > vb2) 30L else 40L
    assert(finalRows == winner,
      s"reader must see exactly the max-version writer's table: $finalRows != $winner")
    // the loser's version is fully committed too (consistent history)
    val loser = math.min(va2, vb2)
    assert(spark.read.parquet(VersionedTable.dataPath(root, loser)).count() == (if (va2 > vb2) 40L else 30L))
  }

  test("ParquetSink round-trips the mart") {
    val dir = SharedSpark.scratchDir("sink") + "/mart"
    val sink = new graft.sinks.ParquetSink(dir)
    Pipeline.run(spark, new JsonFixtureClient(Fixtures.jsonDir),
      YouGileConfig.fixture, Fixtures.runTs, sink, graft.sinks.NoopAlerter)
    assert(spark.read.parquet(dir).count() == 240)
  }

  test("file-format coverage: a gate result round-trips through CSV, JSON, and ORC") {
    import org.apache.spark.sql.functions._
    // h1's frame: simple BIGINT columns every text format can carry
    val src = SparkEntry.queries("h1_histogram")(spark, "/root/testdata/sf0.001")
    val expected = src.collect().map(_.toSeq).toSet
    val base = SharedSpark.scratchDir("fmt")
    val schema = src.schema
    def reread(fmt: String, write: String => Unit): Unit = {
      val p = s"$base/$fmt"
      write(p)
      val back = fmt match {
        // text formats need the explicit schema back (inference drifts)
        case "csv" => spark.read.schema(schema).option("header", "true").csv(p)
        case "json" => spark.read.schema(schema).json(p)
        case _ => spark.read.orc(p)
      }
      assert(back.collect().map(_.toSeq).toSet == expected, s"$fmt round-trip drifted")
    }
    reread("csv", p => src.write.option("header", "true").csv(p))
    reread("json", p => src.write.json(p))
    reread("orc", p => src.write.orc(p))
  }

  test("JdbcSink round-trips the 22-column mart through a real embedded-Derby database") {
    import org.apache.spark.sql.functions.col
    var captured: Option[DataFrame] = None
    val capture = capturing(df => captured = Some(df))
    Pipeline.run(spark, new JsonFixtureClient(Fixtures.jsonDir),
      YouGileConfig.fixture, Fixtures.runTs, capture, graft.sinks.NoopAlerter)
    val mart = captured.get
    // Derby ships on the Spark classpath; an in-memory db exercises the
    // full df.write.jdbc path (table DDL from Spark's dialect, batched
    // inserts — batchsize 50 forces multiple batches per partition).
    val url = s"jdbc:derby:memory:graft${System.nanoTime()};create=true"
    new graft.sinks.JdbcSink(url, "cdm_tasks", "app", "app", batchSize = 50).write(mart)
    val back = spark.read.format("jdbc").option("url", url).option("dbtable", "cdm_tasks").load()
    assert(back.columns.sorted.toSeq == mart.columns.sorted.toSeq)
    // value-level equality across the write/read type mapping (strings →
    // CLOB, doubles → DOUBLE, dates/timestamps native): compare the full
    // canonicalized multiset
    def canon(df: DataFrame) = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(c => col(c).cast("string")): _*)
        .collect().map(_.toSeq.map(v => Option(v).fold("∅")(_.toString)))
        .sortBy(_.mkString("|")).toSeq
    }
    assert(canon(back) == canon(mart))
  }
}
