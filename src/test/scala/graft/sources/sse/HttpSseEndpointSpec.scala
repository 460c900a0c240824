package graft.sources.sse

import java.io.OutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger
import java.util.zip.GZIPOutputStream

import scala.collection.mutable.ArrayBuffer

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The HTTP transport against a real in-process HTTP server (JDK
  * com.sun.net.httpserver) over localhost: request headers on the wire,
  * Last-Event-ID resume after a server-side drop, gzip decoding, non-200
  * failure mapping — the behaviors the reference exercises against a real
  * SSE endpoint (reference ServerSentEventClient.java:198-316). */
class HttpSseEndpointSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var server: HttpServer = _
  private def port: Int = server.getAddress.getPort
  private val seenHeaders = ArrayBuffer.empty[Map[String, String]]

  private def captureHeaders(ex: HttpExchange): Unit = {
    import scala.jdk.CollectionConverters._
    seenHeaders.synchronized {
      seenHeaders += ex.getRequestHeaders.asScala.map {
        case (k, vs) => k -> vs.asScala.mkString(",")
      }.toMap
    }
  }

  private def respond(ex: HttpExchange, body: String, gzip: Boolean = false): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "text/event-stream")
    if (gzip) ex.getResponseHeaders.add("Content-Encoding", "gzip")
    ex.sendResponseHeaders(200, 0) // chunked
    val os: OutputStream =
      if (gzip) new GZIPOutputStream(ex.getResponseBody) else ex.getResponseBody
    os.write(bytes)
    os.close() // server closes the stream → client sees EOF (a drop)
  }

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

    // two-phase stream: first connect gets events 1-2 then a drop; a
    // reconnect carrying Last-Event-ID: 2 gets events 3-4
    val phase = new AtomicInteger(0)
    server.createContext("/events", (ex: HttpExchange) => {
      captureHeaders(ex)
      val resumeId = Option(ex.getRequestHeaders.getFirst("Last-Event-ID"))
      if (phase.getAndIncrement() == 0 || resumeId.isEmpty)
        respond(ex, "id: 1\ndata: a\n\nid: 2\ndata: b\n\n")
      else
        respond(ex, s"id: 3\ndata: resumed-after-${resumeId.get}\n\nid: 4\ndata: d\n\n")
    })

    server.createContext("/gzip", (ex: HttpExchange) => {
      captureHeaders(ex)
      respond(ex, "id: 9\ndata: compressed\n\n", gzip = true)
    })

    server.createContext("/limited", (ex: HttpExchange) => {
      captureHeaders(ex)
      val body = "too many requests".getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(429, body.length)
      ex.getResponseBody.write(body)
      ex.getResponseBody.close()
    })

    server.setExecutor(null)
    server.start()
  }

  override def afterAll(): Unit = server.stop(0)

  private def config(uri: String): SseConfig = SseConfig(
    path = "mem", sseUri = Some(uri), topic = None,
    httpBasicAuth = true, username = Some("u"), password = Some("p"),
    headers = Map("X-Trace" -> "t1"), compressionEnabled = true,
    rateLimitRequestsPerSecond = None, rateLimitMaxConcurrent = None,
    retryBackoffInitialMs = 10L, retryBackoffMaxMs = 50L,
    retryMaxAttempts = -1, maxEventsPerTrigger = None)

  private def drain(c: SseClient, until: Int, timeoutMs: Long = 10000): Seq[SseEvent] = {
    val out = ArrayBuffer.empty[SseEvent]
    val deadline = System.currentTimeMillis() + timeoutMs
    while (out.size < until && System.currentTimeMillis() < deadline) {
      c.pumpOnce(50)
      if (c.connectionState == ConnectionState.Failed) c.attemptReconnection()
      out ++= c.poll()
    }
    out.toSeq
  }

  test("real socket: events stream, drop → reconnect with Last-Event-ID on the wire") {
    val ep = new HttpSseEndpoint(s"http://127.0.0.1:$port/events")
    val c = new SseClient(ep, config(s"http://127.0.0.1:$port/events"),
      sleeper = _ => ()) // skip real backoff sleeps in-test
    c.start()
    val events = drain(c, until = 4)
    c.stop()
    assert(events.map(_.data) ==
      Seq("a", "b", "resumed-after-2", "d"))
    assert(events.map(_.id) == Seq(Some("1"), Some("2"), Some("3"), Some("4")))
    // the wire carried our auth/custom headers and the resume id
    val hs = seenHeaders.synchronized(seenHeaders.toList)
    val first = hs.find(_.contains("X-trace")).orElse(hs.headOption).get
    def h(m: Map[String, String], k: String): Option[String] =
      m.collectFirst { case (kk, v) if kk.equalsIgnoreCase(k) => v }
    assert(h(first, "Authorization").contains("Basic " +
      java.util.Base64.getEncoder.encodeToString("u:p".getBytes("UTF-8"))))
    assert(h(first, "X-Trace").contains("t1"))
    assert(h(first, "Accept").contains("text/event-stream"))
    val resumed = hs.find(m => h(m, "Last-Event-ID").isDefined)
    assert(resumed.isDefined, s"no request carried Last-Event-ID: $hs")
    assert(h(resumed.get, "Last-Event-ID").contains("2"))
  }

  test("gzip responses are transparently decoded (reference :207-210, :264-266)") {
    val ep = new HttpSseEndpoint(s"http://127.0.0.1:$port/gzip")
    val c = new SseClient(ep, config(s"http://127.0.0.1:$port/gzip"), sleeper = _ => ())
    c.start()
    val events = drain(c, until = 1)
    c.stop()
    assert(events.map(_.data) == Seq("compressed"))
  }

  test("stopping the pump on an open, silent upstream returns promptly") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // its own server: the handler holds the stream open until released
    val silent = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val release = new java.util.concurrent.CountDownLatch(1)
    silent.createContext("/silent", (ex: HttpExchange) => {
      ex.getResponseHeaders.add("Content-Type", "text/event-stream")
      ex.sendResponseHeaders(200, 0)
      ex.getResponseBody.write("id: 1\ndata: hello\n\n".getBytes(StandardCharsets.UTF_8))
      ex.getResponseBody.flush()
      release.await(60, java.util.concurrent.TimeUnit.SECONDS)
      ex.close()
    })
    val pool = java.util.concurrent.Executors.newCachedThreadPool()
    silent.setExecutor(pool)
    silent.start()
    try {
      val uri = s"http://127.0.0.1:${silent.getAddress.getPort}/silent"
      val c = new SseClient(new HttpSseEndpoint(uri), config(uri), sleeper = _ => ())
      c.startBackground()
      val deadline = System.currentTimeMillis() + 10000
      while (c.getMetrics("events.total") != 1L && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(c.getMetrics("events.total") == 1L)
      Thread.sleep(200) // the pump is now blocked reading the idle stream
      Await.result(Future(c.stopBackground()), 2.seconds)
      assert(c.connectionState == ConnectionState.Disconnected)
    } finally {
      release.countDown()
      silent.stop(0)
      pool.shutdown()
    }
  }

  test("non-200 maps to a failure carrying the status (429 feeds rate-limit detection)") {
    val ep = new HttpSseEndpoint(s"http://127.0.0.1:$port/limited")
    val c = new SseClient(ep, config(s"http://127.0.0.1:$port/limited"), sleeper = _ => ())
    val e = intercept[java.io.IOException](c.start())
    assert(c.connectionState == ConnectionState.Failed)
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " " + msgs(t.getCause)
    assert(msgs(e).contains("429"))
  }
}
