package graft.yougile

import java.io.IOException
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.ops.Http

/** Source-layer units that need no SparkSession: pagination accumulation,
  * throttling, request construction, config parsing, fixture paging, and
  * the HTTP transport against loopback servers on port 0.
  */
class ClientSpec extends AnyFunSuite with TimeLimits {
  private implicit val signaler: Signaler = ThreadSignaler

  private val emptyPage = """{"paging":{"next":false},"content":[]}"""

  /** A loopback HttpServer on port 0 for the span of `f`. */
  private def withHttpServer[A](route: HttpExchange => Unit)(f: String => A): A = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", ex => try route(ex) finally ex.close())
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/")
    finally server.stop(0)
  }

  private def answer(ex: HttpExchange, status: Int, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    ex.sendResponseHeaders(status, b.length.toLong)
    ex.getResponseBody.write(b)
  }

  /** The production client, token "T0K", against `base`. */
  private def loopbackClient(base: String) =
    new HttpYouGileClient(YouGileConfig(baseUrl = base, token = "T0K", allowedBoards = Nil),
      new RateLimiter(0))

  /** A raw loopback socket server on port 0 for the span of `f`: it reads
    * each request's head, then hands the socket to `reply`, which may
    * write anything, or nothing.
    */
  private def withRawServer[A](reply: Socket => Unit)(f: String => A): A = {
    val ss = new ServerSocket(0, 50, java.net.InetAddress.getLoopbackAddress)
    val accepted = new java.util.concurrent.ConcurrentLinkedQueue[Socket]
    val acceptor = new Thread(() =>
      try {
        while (true) {
          val s = ss.accept()
          accepted.add(s)
          val in = new java.io.BufferedReader(new java.io.InputStreamReader(s.getInputStream, UTF_8))
          while (Option(in.readLine()).exists(_.nonEmpty)) ()
          reply(s)
        }
      } catch { case _: IOException => () })
    acceptor.setDaemon(true)
    acceptor.start()
    try f(s"http://127.0.0.1:${ss.getLocalPort}/")
    finally {
      ss.close()
      accepted.asScala.foreach(_.close())
    }
  }

  private def selectorThreads(): Set[String] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getName)
      .filter(n => n.startsWith("HttpClient-") && n.endsWith("-SelectorManager")).toSet

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
    val status = new java.util.concurrent.atomic.AtomicInteger(503)
    withHttpServer(ex => answer(ex, status.get, emptyPage)) { base =>
      val client = loopbackClient(base)
      val e = intercept[IOException](
        Paginator.fetchAll(client, "tasks", 50, includeDeleted = false, Some("c9")))
      assert(e.getMessage.contains("503") && e.getMessage.contains("/tasks?offset=0") &&
        !e.getMessage.contains("T0K"), e.getMessage)
      status.set(200)
      assert(Paginator.fetchAll(client, "tasks", 50, includeDeleted = false, Some("c9")).isEmpty)
    }
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

  test("each page gets its own connection and no HTTP client thread outlives the walk") {
    failAfter(30.seconds) {
      val ports = new java.util.concurrent.ConcurrentLinkedQueue[Integer]
      val before = selectorThreads()
      withHttpServer { ex =>
        ports.add(ex.getRemoteAddress.getPort)
        answer(ex, 200, emptyPage)
      } { base =>
        val client = loopbackClient(base)
        val n = 12
        (0 until n).foreach(i => client.fetchPage("tasks", i * 50, 50, includeDeleted = false, Some("c9")))
        assert(ports.size == n)
        assert(ports.asScala.toSet.size == n, s"client ports: ${ports.asScala.toList}")
      }
      val left = selectorThreads() -- before
      assert(left.isEmpty, s"HTTP client threads left behind: $left")
    }
  }

  test("a server that accepts and never answers trips the read timeout") {
    failAfter(10.seconds) {
      withRawServer(_ => ()) { base =>
        val t0 = System.nanoTime()
        intercept[java.net.SocketTimeoutException](
          Http.send("test GET", base + "tasks", Map.empty, None, readTimeoutMs = 200))
        assert((System.nanoTime() - t0) / 1000000L < 5000L)
      }
    }
  }

  test("a body shorter than its Content-Length throws instead of returning a short page") {
    failAfter(10.seconds) {
      withRawServer { s =>
        val out = s.getOutputStream
        out.write(("HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n" +
          s"Content-Length: ${emptyPage.length + 40}\r\n\r\n$emptyPage").getBytes(UTF_8))
        out.flush()
        s.close()
      } { base =>
        val e = intercept[IOException](
          Http.send("test GET", base + "tasks", Map.empty, None, readTimeoutMs = 2000))
        assert(e.getMessage.contains("body ended after"), e.toString)
      }
    }
  }

  test("a 302 fails the page, naming 302, and its Location is not requested") {
    failAfter(10.seconds) {
      val paths = new java.util.concurrent.ConcurrentLinkedQueue[String]
      withHttpServer { ex =>
        paths.add(ex.getRequestURI.getPath)
        if (ex.getRequestURI.getPath == "/moved") answer(ex, 200, emptyPage)
        else {
          ex.getResponseHeaders.set("Location", "/moved")
          ex.sendResponseHeaders(302, -1)
        }
      } { base =>
        val e = intercept[IOException](loopbackClient(base).fetchPage("tasks", 0, 50, includeDeleted = false, None))
        assert(e.getMessage.contains("302") && !e.getMessage.contains("T0K"), e.getMessage)
        assert(paths.asScala.toList == List("/tasks"))
      }
    }
  }
}
