package etlbench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback stand-in for the YouGile REST API: serves a [[Workspace]]'s
  * pre-rendered pages at `http://127.0.0.1:<port>/api-v2/<method>` with the
  * query string `HttpYouGileClient` sends, and counts what it serves. An
  * unknown page answers 404 and counts as failed.
  */
final class PageServer {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  // two threads: the pipeline fetches one page at a time
  private val pool: ExecutorService = Executors.newFixedThreadPool(2)
  private val workspace = new AtomicReference[Workspace]()

  val requests = new AtomicLong
  val bytes = new AtomicLong
  val failed = new AtomicLong
  val empty = new AtomicLong

  server.createContext("/api-v2/", (ex: HttpExchange) => serve(ex))
  server.setExecutor(pool)
  server.start()

  def baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}/api-v2/"

  def load(ws: Workspace): Unit = workspace.set(ws)

  def counts: PageServer.Counts =
    PageServer.Counts(requests.get, bytes.get, empty.get, failed.get)

  private def serve(ex: HttpExchange): Unit =
    try {
      requests.incrementAndGet()
      val method = ex.getRequestURI.getPath.stripPrefix("/api-v2/")
      val q = Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&').filter(_.nonEmpty)
        .map { kv =>
          val i = kv.indexOf('=')
          URLDecoder.decode(kv.take(i), UTF_8) -> URLDecoder.decode(kv.drop(i + 1), UTF_8)
        }.toMap
      val ws = workspace.get
      val page = for {
        w <- Option(ws)
        offset <- q.get("offset").flatMap(_.toIntOption)
        limit <- q.get("limit").flatMap(_.toIntOption)
        p <- w.pages.get(w.pageKey(method, q.get("columnId"),
          q.get("includeDeleted").contains("true"), offset, limit))
      } yield p
      page match {
        case Some(p) =>
          ex.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
          ex.sendResponseHeaders(200, p.bytes.length.toLong)
          ex.getResponseBody.write(p.bytes)
          bytes.addAndGet(p.bytes.length.toLong)
          if (p.objects == 0) empty.incrementAndGet()
        case None =>
          failed.incrementAndGet()
          val body = """{"error":"no such page"}""".getBytes(UTF_8)
          ex.sendResponseHeaders(404, body.length.toLong)
          ex.getResponseBody.write(body)
      }
    } finally ex.close()

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
    ()
  }
}

object PageServer {
  /** Served totals; `empty` counts pages with no content. */
  case class Counts(requests: Long, bytes: Long, empty: Long, failed: Long) {
    def -(o: Counts): Counts =
      Counts(requests - o.requests, bytes - o.bytes, empty - o.empty, failed - o.failed)
  }
}
