package etlbench

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.MartSink
import graft.yougile.{HttpYouGileClient, RateLimiter}

/** The tracing decorators are pass-through: what reaches the wrapped
  * client, sink and alerter, and what comes back, is unchanged.
  */
class DecoratorSpec extends AnyFunSuite {

  test("the traced client returns byte-identical pages, one span per fetch") {
    val ws = new Workspace(Shape.tiny, 11)
    TestSession.server.load(ws)
    val bare = new HttpYouGileClient(ws.config(TestSession.server.baseUrl), new RateLimiter(0))
    val tracer = new Tracer
    val traced = new TracedClient(bare, tracer)
    ws.pages.foreach { case (key, page) =>
      val Array(method, col, deleted, offset, limit) = key.split('|')
      val column = Option(col).filter(_ != "all")
      val viaTrace = traced.fetchPage(method, offset.toInt, limit.toInt, deleted.toBoolean, column)
      val plain = bare.fetchPage(method, offset.toInt, limit.toInt, deleted.toBoolean, column)
      assert(viaTrace == plain)
      assert(java.util.Arrays.equals(viaTrace.getBytes("UTF-8"), page.bytes))
    }
    assert(tracer.spans.count(_.name == "client.fetch") == ws.pages.size)
    assert(traced.requests.get == ws.pages.size && traced.failed.get == 0)
  }

  test("the traced sink and alerter hand the same frame and text to the wrapped ones") {
    val tracer = new Tracer
    var got: DataFrame = null
    val inner = new MartSink { override def write(df: DataFrame): Unit = got = df }
    val df = TestSession.spark.range(3).toDF()
    new TracedSink(inner, tracer).write(df)
    assert(got eq df)
    val alerts = new CaptureAlerter
    new TracedAlerter(alerts, tracer).alert("x")
    assert(alerts.take() == Seq("x"))
    assert(tracer.spans.map(_.name) == Seq("sink.write", "alert"))
  }

  test("a traced run loads the same mart as an untraced one, and its spans nest under it") {
    val bench = TestSession.bench(seed = 13)
    assert(bench.run(None).ok)
    val tracer = new Tracer
    assert(bench.run(Some(tracer)).ok) // also compares the content hash with the first run
    val spans = tracer.spans
    val root = spans.find(_.name == "run").get
    for (name <- Seq("client.fetch", "sink.write", "alert"))
      assert(spans.exists(s => s.name == name && s.parent.contains(root.id)), name)
  }

  test("self time gives each instant to the deepest open span") {
    val t = Seq(
      Span(1, "run", 0, 100, None, 1),
      Span(2, "client.fetch", 10, 20, Some(1), 1),
      Span(3, "sink.write", 40, 90, Some(1), 1),
      Span(4, "spark.job", 50, 80, Some(3), 1),
      Span(5, "spark.job", 60, 95, Some(3), 1)) // overlaps its sibling, outlives its parent
    assert(Tracer.selfTimeUs(t.head, t) ==
      Map("run" -> 35L, "client.fetch" -> 10L, "sink.write" -> 10L, "spark.job" -> 45L))
  }
}
