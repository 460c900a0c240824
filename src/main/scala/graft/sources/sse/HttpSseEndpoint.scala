package graft.sources.sse

import java.io.{IOException, InputStream}
import java.net.{HttpURLConnection, SocketTimeoutException, URI}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

/** HTTP implementation of the [[SseEndpoint]] transport seam: a real
  * text/event-stream GET over a socket, built purely on the JDK
  * (HttpURLConnection — no extra dependencies), mirroring the reference's
  * jax-rs client behaviors (reference ServerSentEventClient.java:198-299):
  *
  *  - `Accept: text/event-stream` plus the caller's headers (basic auth,
  *    custom headers built by [[SseClient.buildHeaders]]);
  *  - WHATWG `Last-Event-ID` request header carries the resume position on
  *    reconnect (the reference gets this from SseEventSource internals);
  *  - gzip/deflate response decoding when the server honors
  *    `Accept-Encoding` (reference enables this at :207-210, :264-266);
  *  - non-200 responses raise with the status code in the message, so the
  *    client's 429 rate-limit detection (reference :662-676) sees them.
  *
  * Reads are chunk-oriented: each read returns whatever bytes are available
  * (the incremental parser handles arbitrary chunk boundaries), Idle when
  * nothing arrives within 1 s (a socket timeout HttpURLConnection applies
  * only at connect), Eof when the server closes the stream.
  */
final class HttpSseEndpoint(url: String, connectTimeoutMs: Int = 10000,
    proxy: Option[java.net.Proxy] = None,
    sslContext: Option[javax.net.ssl.SSLContext] = None,
    skipHostnameVerify: Boolean = false)
    extends SseEndpoint {

  override def connect(lastEventId: Option[String],
      headers: Map[String, String]): SseConnection = {
    // roadmap Step-9 proxy support: route the stream GET through the
    // configured HTTP proxy (http.proxy.host/.port)
    val conn = URI.create(url).toURL
      .openConnection(proxy.getOrElse(java.net.Proxy.NO_PROXY))
      .asInstanceOf[HttpURLConnection]
    // roadmap Step-9 advanced TLS: custom trust anchors (https.truststore.*)
    // or the explicit skip-verify kill-switch for test rigs
    conn match {
      case h: javax.net.ssl.HttpsURLConnection =>
        sslContext.foreach(c => h.setSSLSocketFactory(c.getSocketFactory))
        if (skipHostnameVerify) h.setHostnameVerifier((_, _) => true)
      case _ => ()
    }
    conn.setRequestMethod("GET")
    conn.setConnectTimeout(connectTimeoutMs)
    conn.setReadTimeout(1000)
    conn.setRequestProperty("Accept", "text/event-stream")
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    lastEventId.foreach(id => conn.setRequestProperty("Last-Event-ID", id))
    conn.connect()
    val code = conn.getResponseCode
    if (code != 200) {
      val err = Option(conn.getErrorStream).map { s =>
        try new String(s.readAllBytes(), StandardCharsets.UTF_8).take(200)
        finally s.close()
      }.getOrElse("")
      conn.disconnect()
      throw new IOException(s"HTTP $code from $url $err".trim)
    }
    val raw = conn.getInputStream
    val in: InputStream =
      if (Option(conn.getContentEncoding).exists(_.equalsIgnoreCase("gzip")))
        new GZIPInputStream(raw)
      else raw
    new SseConnection {
      // a char reader so multi-byte UTF-8 sequences split across socket
      // reads are reassembled before reaching the parser
      private val reader = new java.io.InputStreamReader(in, StandardCharsets.UTF_8)
      private val cbuf = new Array[Char](4096)
      override def read(timeoutMs: Long): SseChunk =
        try {
          val n = reader.read(cbuf)
          if (n < 0) SseChunk.Eof
          else SseChunk.Data(new String(cbuf, 0, n))
        } catch {
          case _: SocketTimeoutException => SseChunk.Idle
        }
      override def close(): Unit = {
        try reader.close() catch { case _: IOException => () }
        conn.disconnect()
      }
    }
  }
}
