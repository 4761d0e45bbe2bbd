package graft.ops

import java.io.IOException
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8

/** The product's one HTTP request: the YouGile page fetch and the Telegram
  * alert both go through [[Http.send]]. Each call opens its own
  * `HttpURLConnection` and closes its socket with `disconnect()` once the
  * body is read, so nothing outlives the call: no client object, no
  * selector thread, no pooled connection. HTTP/1.1 only; redirects are not
  * followed, so a 3xx fails like any other non-2xx status.
  */
object Http {
  val ConnectTimeoutMs = 10000
  val ReadTimeoutMs = 60000

  /** POSTs `body`, or GETs when it is None, and returns the response body
    * decoded as UTF-8. Throws an `IOException`
    *  - `"<label> returned HTTP <status>"` on any non-2xx status;
    *  - when the body ends before its `Content-Length`;
    *  - when no byte arrives for `readTimeoutMs` (`SocketTimeoutException`).
    *
    * `label` names the request in those messages: keep secrets out of it.
    */
  def send(label: String, url: String, headers: Map[String, String],
      body: Option[Array[Byte]], readTimeoutMs: Int): String = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setInstanceFollowRedirects(false)
      conn.setConnectTimeout(ConnectTimeoutMs)
      conn.setReadTimeout(readTimeoutMs)
      headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
      body.foreach { b =>
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.setFixedLengthStreamingMode(b.length)
        val out = conn.getOutputStream
        try out.write(b) finally out.close()
      }
      val status = conn.getResponseCode
      if (status / 100 != 2) throw new IOException(s"$label returned HTTP $status")
      // disconnect() below closes the stream and its socket; closing the
      // stream first would park the socket in the JDK's keep-alive cache,
      // out of disconnect()'s reach
      val bytes = conn.getInputStream.readAllBytes()
      // HttpURLConnection hands back a short body as if it were whole
      val expected = conn.getContentLengthLong
      if (expected >= 0 && bytes.length < expected)
        throw new IOException(s"$label: body ended after ${bytes.length} of $expected bytes")
      new String(bytes, UTF_8)
    } finally conn.disconnect()
  }
}
