package graft.yougile

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import graft.ops.Http

/** Typed extraction config (S6) — the reference pulls these from Airflow
  * Variables (`dags/yougile_etl_dag.py:17-22`); here they are a plain case
  * class, buildable from the environment.
  */
case class YouGileConfig(
    baseUrl: String,
    token: String,
    allowedBoards: Seq[String],
    contractPageLimit: Int = 1000, // ref :208
    objectPageLimit: Int = 100, // ref :225
    dictPageLimit: Int = 1000, // ref :110-147
    minRequestIntervalMs: Long = 1500) // 50 req/min cap, ref :72-73

object YouGileConfig {
  /** Env parsing: YG_ACTUAL_BOARDS accepts a JSON list (the reference's
    * `deserialize_json=True` Variable) or a comma-separated string.
    */
  def fromEnv(env: Map[String, String]): YouGileConfig = {
    val boardsRaw = env.getOrElse("YG_ACTUAL_BOARDS", "[]").trim
    val boards =
      if (boardsRaw.startsWith("[")) {
        val arr = new ObjectMapper().readTree(boardsRaw)
        (0 until arr.size()).map(arr.get(_).asText())
      } else boardsRaw.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    YouGileConfig(
      baseUrl = env.getOrElse("YG_BASE_URL", ""),
      token = env.getOrElse("YG_TOKEN", ""),
      allowedBoards = boards)
  }

  /** Config for the committed fixture set. */
  val fixture: YouGileConfig = YouGileConfig(
    baseUrl = "fixture://",
    token = "",
    allowedBoards = Fixtures.allowedBoards,
    contractPageLimit = FixtureGen.ContractPageLimit,
    objectPageLimit = FixtureGen.ObjectPageLimit,
    dictPageLimit = FixtureGen.DictPageLimit)
}

/** One page of one endpoint (S1's request primitive). Implementations:
  * HttpYouGileClient (production) and JsonFixtureClient (tests/gates) —
  * the seam SURVEY.md §7.1 calls for, so everything above the client is
  * testable without a network.
  */
trait YouGileClient {
  def fetchPage(method: String, offset: Int, limit: Int,
      includeDeleted: Boolean, columnId: Option[String]): String
}

/** Pagination loop (S1, ref `get_yg_data` :48-76): accumulate `content`
  * elements while `paging.next`, advancing offset by limit. Returns one
  * raw JSON string per entity, which [[YouGileSource]] decodes with
  * Spark's own JSON parser.
  */
object Paginator {
  private val om = new ObjectMapper()

  def fetchAll(client: YouGileClient, method: String, limit: Int,
      includeDeleted: Boolean, columnId: Option[String]): Seq[String] = {
    val out = Vector.newBuilder[String]
    var offset = 0
    var more = true
    while (more) {
      val body = client.fetchPage(method, offset, limit, includeDeleted, columnId)
      val root = om.readTree(body)
      val content = root.path("content")
      // a body that is not a page (an error envelope): fail rather than
      // load a short mart
      if (!content.isArray)
        throw new IllegalStateException(s"YouGile $method page (columnId=" +
          s"${columnId.getOrElse("all")}, offset=$offset) has no content array: " +
          body.take(200))
      content.forEach(n => { out += n.toString; () })
      more = root.path("paging").path("next").asBoolean(false)
      offset += limit
    }
    out.result()
  }
}

/** Minimal token-interval rate limiter honouring the 50 req/min API cap
  * (O5; ref sleeps 1.5 s between pages `:72-73` and between per-column
  * fetches `:211`). Clock and sleeper are injectable so tests run without
  * wall-clock time.
  */
class RateLimiter(
    minIntervalMs: Long,
    nowMs: () => Long = () => System.currentTimeMillis(),
    sleep: Long => Unit = Thread.sleep) {
  // 0L, NOT Long.MinValue: `nextFreeAt - now` with a sentinel MinValue
  // underflows to a huge positive wait on the first real-clock call
  private var nextFreeAt = 0L

  def acquire(): Unit = synchronized {
    val now = nowMs()
    val wait = nextFreeAt - now
    if (wait > 0) {
      sleep(wait)
      nextFreeAt += minIntervalMs
    } else {
      nextFreeAt = now + minIntervalMs
    }
  }
}

/** Production client: GET with Bearer auth (ref headers `:24-25`, request
  * shape `:50-53`), throttled before every request. The transport function
  * is injectable so pagination/throttling/auth are unit-testable offline.
  */
class HttpYouGileClient(
    cfg: YouGileConfig,
    limiter: RateLimiter,
    transport: (String, Map[String, String]) => String = HttpYouGileClient.defaultTransport)
    extends YouGileClient {

  override def fetchPage(method: String, offset: Int, limit: Int,
      includeDeleted: Boolean, columnId: Option[String]): String = {
    limiter.acquire()
    val params = s"?offset=$offset&limit=$limit&includeDeleted=$includeDeleted" +
      columnId.map(c => s"&columnId=$c").getOrElse("")
    transport(
      cfg.baseUrl + method + params,
      Map("Content-Type" -> "application/json", "Authorization" -> s"Bearer ${cfg.token}"))
  }
}

object HttpYouGileClient {
  /** GET `url` through [[graft.ops.Http.send]]: one connection per page,
    * fixed connect and read timeouts, no redirects. Only a 2xx body is
    * data; any other status throws, naming the status and the URL (the
    * token travels in a header, not the URL).
    */
  val defaultTransport: (String, Map[String, String]) => String =
    (url, headers) => Http.send(s"YouGile GET $url", url, headers, None, Http.ReadTimeoutMs)
}

/** Gate/test client: serves committed JSON pages written by FixtureGen,
  * keyed `{method}__{columnId|all}__{offset}.json`.
  */
class JsonFixtureClient(dir: String) extends YouGileClient {
  override def fetchPage(method: String, offset: Int, limit: Int,
      includeDeleted: Boolean, columnId: Option[String]): String =
    new String(
      Files.readAllBytes(
        Paths.get(s"$dir/${method}__${columnId.getOrElse("all")}__$offset.json")),
      UTF_8)
}
