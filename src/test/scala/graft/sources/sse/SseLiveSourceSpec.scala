package graft.sources.sse

import java.nio.file.{Files, Path}

import graft.SparkSpec
import org.apache.spark.sql.streaming.Trigger

/** End-to-end: format("sse") with transport=live — the [[SseClient]]
  * (lifecycle + backoff + health machinery) pumps a loopback endpoint,
  * spools frames, and the streaming query reads them through the cursor
  * mechanics. A mid-stream drop must reconnect with the WHATWG resume id
  * and lose nothing. */
class SseLiveSourceSpec extends SparkSpec {

  private def tmpDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit(); p
  }

  private def frame(event: String, id: Long, data: String): String =
    s"event: $event\nid: $id\ndata: $data\n\n"

  test("live transport: drop → backoff reconnect → resume; no loss through the spool") {
    val ep = new LoopbackEndpoint
    val s1 = ep.scriptAccept()
    val s2 = ep.scriptAccept()
    SseEndpoints.register("live-e2e", ep)
    // session 1 delivers two events then drops; session 2 delivers two more
    s1.push(frame("edit", 1, "a"))
    s1.push(frame("edit", 2, "b"))
    s1.pushEof()
    s2.push(frame("edit", 3, "c"))
    s2.push(frame("del", 4, "d"))

    val dir = tmpDir("sse-live")
    val q = spark.readStream.format("sse")
      .option("path", dir.resolve("spool").toString)
      .option("transport", "live")
      .option("endpoint.ref", "live-e2e")
      .option("retry.backoff.initial.ms", "10")
      .option("retry.backoff.max.ms", "50")
      .load()
      .writeStream.format("memory").queryName("sse_live")
      .option("checkpointLocation", dir.resolve("cp").toString)
      .trigger(Trigger.ProcessingTime(100))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      def count(): Long = spark.sql("SELECT count(*) FROM sse_live").head().getLong(0)
      while (count() < 4 && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(count() == 4, s"expected 4 events, got ${count()}")
    } finally q.stop()

    // the drop forced a reconnect that resumed from the last seen id
    assert(ep.connectAttempts.get == 2, s"attempts=${ep.connectAttempts.get}")
    assert(ep.seenLastEventIds == List(None, Some("2")))
    val rows = spark.sql("SELECT event, id, data FROM sse_live ORDER BY id")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(rows == Seq(("edit", "1", "a"), ("edit", "2", "b"),
      ("edit", "3", "c"), ("del", "4", "d")))
  }

  test("multiple live endpoints: one client + spool + input partition per upstream") {
    val epA = new LoopbackEndpoint
    val epB = new LoopbackEndpoint
    val sA = epA.scriptAccept()
    val sB = epB.scriptAccept()
    SseEndpoints.register("multi-a", epA)
    SseEndpoints.register("multi-b", epB)
    sA.push(frame("edit", 1, "a1") + frame("edit", 2, "a2"))
    sB.push(frame("del", 10, "b1"))

    val dir = tmpDir("sse-multi-live")
    val q = spark.readStream.format("sse")
      .option("path", dir.resolve("spool").toString)
      .option("transport", "live")
      .option("endpoint.ref", "multi-a, multi-b")
      .load()
      .writeStream.format("memory").queryName("sse_multi_live")
      .option("checkpointLocation", dir.resolve("cp").toString)
      .trigger(Trigger.ProcessingTime(100))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      def count(): Long =
        spark.sql("SELECT count(*) FROM sse_multi_live").head().getLong(0)
      while (count() < 3 && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(count() == 3, s"expected 3 events from 2 endpoints, got ${count()}")
    } finally q.stop()
    assert(epA.connectAttempts.get >= 1 && epB.connectAttempts.get >= 1)
    val spools = new java.io.File(dir.resolve("spool").toString).listFiles().map(_.getName).sorted
    assert(spools.toSeq == Seq("live-0000.sselog", "live-0001.sselog"))
  }

  test("live transport reports client metrics into StreamingQueryProgress.sources") {
    val ep = new LoopbackEndpoint
    val s1 = ep.scriptAccept()
    SseEndpoints.register("live-metrics", ep)
    s1.push(frame("edit", 1, "a") + frame("del", 2, "b"))

    val dir = tmpDir("sse-live-metrics")
    val q = spark.readStream.format("sse")
      .option("path", dir.resolve("spool").toString)
      .option("transport", "live")
      .option("endpoint.ref", "live-metrics")
      .option("retry.backoff.initial.ms", "10")
      .option("retry.backoff.max.ms", "50")
      .load()
      .writeStream.format("memory").queryName("sse_live_metrics")
      .option("checkpointLocation", dir.resolve("cp").toString)
      .trigger(Trigger.ProcessingTime(100))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      def count(): Long =
        spark.sql("SELECT count(*) FROM sse_live_metrics").head().getLong(0)
      while (count() < 2 && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(count() == 2)
      // the queryable endpoint: connection health + event totals surface in
      // the engine's own progress reporting, no side-channel
      def metricsWith(k: String, v: String): Boolean =
        q.recentProgress.exists(p => p.sources.nonEmpty &&
          v == p.sources.head.metrics.get(k))
      val mDeadline = System.currentTimeMillis() + 30000
      while (!(metricsWith("events.total", "2") &&
        metricsWith("connection.successful", "1")) &&
        System.currentTimeMillis() < mDeadline) Thread.sleep(100)
      assert(metricsWith("connection.attempts", "1"), "attempts in progress metrics")
      assert(metricsWith("connection.successful", "1"), "successes in progress metrics")
      assert(metricsWith("events.total", "2"), "client event total in progress metrics")
      assert(metricsWith("connection.states", "CONNECTED"), "lifecycle state in progress metrics")
    } finally q.stop()
  }

  test("live transport keeps no event queue: queue.maxSize stays 0 while events flow") {
    val ep = new LoopbackEndpoint
    val s1 = ep.scriptAccept()
    SseEndpoints.register("live-queue", ep)
    val n = 50
    (1 to n).foreach(i => s1.push(frame("edit", i, s"d$i")))

    val dir = tmpDir("sse-live-queue")
    val q = spark.readStream.format("sse")
      .option("path", dir.resolve("spool").toString)
      .option("transport", "live")
      .option("endpoint.ref", "live-queue")
      .load()
      .writeStream.format("memory").queryName("sse_live_queue")
      .option("checkpointLocation", dir.resolve("cp").toString)
      .trigger(Trigger.ProcessingTime(100))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      def count(): Long = spark.sql("SELECT count(*) FROM sse_live_queue").head().getLong(0)
      while (count() < n && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(count() == n)
      // frames leave through the spool; the client must not also keep every
      // event it has received
      def withTotal = q.recentProgress.filter(p => p.sources.nonEmpty &&
        p.sources.head.metrics.get("events.total") == n.toString)
      val mDeadline = System.currentTimeMillis() + 30000
      while (withTotal.isEmpty && System.currentTimeMillis() < mDeadline) Thread.sleep(100)
      assert(withTotal.nonEmpty, "client event total in progress metrics")
      assert(withTotal.forall(_.sources.head.metrics.get("queue.maxSize") == "0"),
        withTotal.map(_.sources.head.metrics.get("queue.maxSize")).mkString(","))
    } finally q.stop()
  }

  test("query restart resumes the upstream from the spooled last-event-id (no replay)") {
    val ep = new LoopbackEndpoint
    val s1 = ep.scriptAccept()
    val s2 = ep.scriptAccept()
    SseEndpoints.register("live-restart", ep)
    s1.push(frame("edit", 1, "a") + frame("edit", 2, "b"))
    // s1 stays open (no EOF): run 1 ends with the connection healthy
    s2.push(frame("edit", 3, "c"))

    val dir = tmpDir("sse-live-restart")
    def run(expect: Long): Unit = {
      val q = spark.readStream.format("sse")
        .option("path", dir.resolve("spool").toString)
        .option("transport", "live")
        .option("endpoint.ref", "live-restart")
        .option("retry.backoff.initial.ms", "10")
        .option("retry.backoff.max.ms", "50")
        .load()
        .writeStream.format("parquet")
        .option("path", dir.resolve("out").toString)
        .option("checkpointLocation", dir.resolve("cp").toString)
        .trigger(Trigger.ProcessingTime(100))
        .start()
      try {
        val deadline = System.currentTimeMillis() + 60000
        def count(): Long =
          try spark.read.parquet(dir.resolve("out").toString).count()
          catch { case _: Exception => 0L }
        while (count() < expect && System.currentTimeMillis() < deadline) Thread.sleep(100)
        assert(count() == expect, s"expected $expect rows, got ${count()}")
      } finally q.stop()
    }
    run(2) // first run ingests events 1-2 and stops
    run(3) // restart: a NEW client must resume from id 2, not replay
    assert(ep.seenLastEventIds.take(2) == List(None, Some("2")),
      s"restart must carry the spooled last-event-id: ${ep.seenLastEventIds}")
    val ids = spark.read.parquet(dir.resolve("out").toString)
      .select("id").collect().map(_.getString(0)).toSeq.sorted
    assert(ids == Seq("1", "2", "3"), s"no duplicates allowed: $ids")
  }

  test("full stack over HTTP: sse.uri → SseClient → spool → micro-batches") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import java.net.InetSocketAddress
    import java.nio.charset.StandardCharsets
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/stream", (ex: HttpExchange) => {
      // resume-aware: a reconnect carrying Last-Event-ID starts after it,
      // so the client's resume id is what keeps the spool duplicate-free
      val after = Option(ex.getRequestHeaders.getFirst("Last-Event-ID"))
        .map(_.toInt).getOrElse(0)
      val body = ((after + 1) to 3).map(i => frame("edit", i, s"d$i")).mkString
        .getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("Content-Type", "text/event-stream")
      ex.sendResponseHeaders(200, 0)
      ex.getResponseBody.write(body)
      ex.getResponseBody.close()
    })
    server.setExecutor(null)
    server.start()
    try {
      val dir = tmpDir("sse-http-e2e")
      val q = spark.readStream.format("sse")
        .option("path", dir.resolve("spool").toString)
        .option("transport", "live")
        .option("sse.uri", s"http://127.0.0.1:${server.getAddress.getPort}/stream")
        .option("retry.backoff.initial.ms", "50")
        .option("retry.backoff.max.ms", "100")
        .load()
        .writeStream.format("memory").queryName("sse_http_e2e")
        .option("checkpointLocation", dir.resolve("cp").toString)
        .trigger(Trigger.ProcessingTime(100))
        .start()
      try {
        val deadline = System.currentTimeMillis() + 60000
        def count(): Long =
          spark.sql("SELECT count(*) FROM sse_http_e2e").head().getLong(0)
        while (count() < 3 && System.currentTimeMillis() < deadline) Thread.sleep(100)
        assert(count() == 3, s"expected 3 events over HTTP, got ${count()}")
      } finally q.stop()
    } finally server.stop(0)
  }
}
