package graft.yougile

import org.scalatest.funsuite.AnyFunSuite

/** Source-layer units that need no SparkSession: pagination accumulation,
  * throttling, request construction, config parsing, fixture paging.
  */
class ClientSpec extends AnyFunSuite {

  /** Scripted client: serves canned envelopes and records calls. */
  private class FakeClient(pages: Map[(String, Option[String], Int), String]) extends YouGileClient {
    var calls: List[(String, Int, Int, Boolean, Option[String])] = Nil
    override def fetchPage(method: String, offset: Int, limit: Int,
        includeDeleted: Boolean, columnId: Option[String]): String = {
      calls ::= (method, offset, limit, includeDeleted, columnId)
      pages((method, columnId, offset))
    }
  }

  test("Paginator accumulates content across pages and stops when paging.next is false") {
    val c = new FakeClient(Map(
      ("tasks", None, 0) -> """{"paging":{"next":true},"content":[{"id":"a"},{"id":"b"}]}""",
      ("tasks", None, 2) -> """{"paging":{"next":true},"content":[{"id":"c"}]}""",
      ("tasks", None, 4) -> """{"paging":{"next":false},"content":[{"id":"d"}]}"""))
    val rows = Paginator.fetchAll(c, "tasks", limit = 2, includeDeleted = true, columnId = None)
    assert(rows.map(r => r.contains("\"a\"") || r.contains("\"b\"") || r.contains("\"c\"") || r.contains("\"d\"")).forall(identity))
    assert(rows.size == 4)
    assert(c.calls.reverse.map(_._2) == List(0, 2, 4)) // offsets advance by limit
  }

  test("Paginator handles an empty content page (empty-portion guard F5)") {
    val c = new FakeClient(Map(
      ("tasks", Some("col1"), 0) -> """{"paging":{"next":false},"content":[]}"""))
    assert(Paginator.fetchAll(c, "tasks", 100, includeDeleted = false, Some("col1")).isEmpty)
  }

  test("a page with no content array (an HTTP error body) fails the walk instead of reading as empty") {
    val rl = new RateLimiter(0)
    val cfg = YouGileConfig(baseUrl = "https://api.example.test/", token = "T0K", allowedBoards = Nil)
    val client = new HttpYouGileClient(cfg, rl, transport = (_, _) => """{"error":"Unauthorized"}""")
    val e = intercept[IllegalStateException](
      Paginator.fetchAll(client, "tasks", 50, includeDeleted = false, Some("c9")))
    assert(e.getMessage.contains("tasks") && e.getMessage.contains("columnId=c9") &&
      e.getMessage.contains("offset=0"), e.getMessage)
  }

  test("a non-2xx response fails the walk even when its body carries a content array") {
    import com.sun.net.httpserver.HttpServer
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val status = new java.util.concurrent.atomic.AtomicInteger(503)
    server.createContext("/", ex => {
      val body = """{"paging":{"next":false},"content":[]}""".getBytes("UTF-8")
      ex.sendResponseHeaders(status.get, body.length.toLong)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    try {
      val cfg = YouGileConfig(baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}/",
        token = "T0K", allowedBoards = Nil)
      val client = new HttpYouGileClient(cfg, new RateLimiter(0))
      val e = intercept[java.io.IOException](
        Paginator.fetchAll(client, "tasks", 50, includeDeleted = false, Some("c9")))
      assert(e.getMessage.contains("503") && e.getMessage.contains("/tasks?offset=0") &&
        !e.getMessage.contains("T0K"), e.getMessage)
      status.set(200)
      assert(Paginator.fetchAll(client, "tasks", 50, includeDeleted = false, Some("c9")).isEmpty)
    } finally server.stop(0)
  }

  test("RateLimiter's first acquire never sleeps under a realistic epoch clock (overflow regression)") {
    var slept = List.empty[Long]
    val rl = new RateLimiter(1500, nowMs = () => 1754980000000L, sleep = ms => slept ::= ms)
    rl.acquire()
    assert(slept.isEmpty) // Long.MinValue sentinel would wrap to a ~292M-year sleep
  }

  test("RateLimiter sleeps only when requests arrive faster than the interval") {
    var now = 0L
    var slept = List.empty[Long]
    val rl = new RateLimiter(1500, nowMs = () => now, sleep = ms => { slept ::= ms; now += ms })
    rl.acquire() // first call: free
    assert(slept.isEmpty)
    now += 200 // 200 ms later → must wait 1300
    rl.acquire()
    assert(slept == List(1300L))
    now += 5000 // long idle → free again
    rl.acquire()
    assert(slept == List(1300L))
  }

  test("HttpYouGileClient builds the reference's request shape and throttles each call") {
    var seen = List.empty[(String, Map[String, String])]
    var acquired = 0
    val rl = new RateLimiter(1500, nowMs = () => { acquired += 1; 0L }, sleep = _ => ())
    val cfg = YouGileConfig(baseUrl = "https://api.example.test/", token = "T0K", allowedBoards = Nil)
    val client = new HttpYouGileClient(cfg, rl, transport = (url, headers) => {
      seen ::= (url, headers); """{"paging":{"next":false},"content":[]}"""
    })
    client.fetchPage("tasks", offset = 50, limit = 50, includeDeleted = false, columnId = Some("c9"))
    val (url, headers) = seen.head
    assert(url == "https://api.example.test/tasks?offset=50&limit=50&includeDeleted=false&columnId=c9")
    assert(headers("Authorization") == "Bearer T0K")
    client.fetchPage("boards", 0, 1000, includeDeleted = false, None)
    assert(seen.head._1 == "https://api.example.test/boards?offset=0&limit=1000&includeDeleted=false")
    assert(acquired >= 2) // limiter consulted per request
  }

  test("YouGileConfig.fromEnv parses a JSON board list (the reference's deserialize_json Variable) and comma lists") {
    val j = YouGileConfig.fromEnv(Map(
      "YG_BASE_URL" -> "https://u/", "YG_TOKEN" -> "t",
      "YG_ACTUAL_BOARDS" -> """["Доска А", "B"]"""))
    assert(j.allowedBoards == Seq("Доска А", "B"))
    val c = YouGileConfig.fromEnv(Map("YG_ACTUAL_BOARDS" -> "A, B ,C"))
    assert(c.allowedBoards == Seq("A", "B", "C"))
  }

  test("JsonFixtureClient serves committed pages incl. the multi-page column") {
    val c = new JsonFixtureClient(Fixtures.jsonDir)
    val twoPageCol = "00000002-0002-4000-8000-000000000001"
    val rows = Paginator.fetchAll(c, "tasks", FixtureGen.ContractPageLimit,
      includeDeleted = false, Some(twoPageCol))
    assert(rows.size == 60) // C1 has 60 contracts over two pages
  }
}
