package graft.sources.sse

import java.nio.file.{Files, Path, StandardOpenOption}

import graft.SparkSpec
import org.apache.spark.sql.streaming.Trigger

/** End-to-end micro-batch reads through format("sse"). */
class SseSourceSpec extends SparkSpec {

  private def tmpDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit(); p
  }

  private def frame(event: String, id: Long, data: String): String =
    s"event: $event\nid: $id\ndata: $data\n\n"

  /** Run one AvailableNow pass, appending results to a parquet sink (which,
    * unlike the memory sink, supports checkpoint recovery across runs). */
  private def runOnce(log: Path, dir: Path): Unit = {
    val q = spark.readStream.format("sse").option("path", log.toString).load()
      .writeStream.format("parquet")
      .option("path", dir.resolve("out").toString)
      .option("checkpointLocation", dir.resolve("cp").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
  }

  private def sinkRows(dir: Path): Seq[(String, String, String)] =
    spark.read.parquet(dir.resolve("out").toString)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSeq.sortBy(t => (t._1, Option(t._2).getOrElse(""), t._3))

  test("reads frames, applies reference null-handling, resumes from checkpoint") {
    val dir = tmpDir("sse-src")
    val log = dir.resolve("stream.log")
    Files.writeString(log, frame("edit", 1, "{\"a\":1}") + "data: no-name\n\n")

    runOnce(log, dir)
    // second frame has no event name -> "unknown" but inherits last id "1"
    assert(sinkRows(dir) == Seq(("edit", "1", "{\"a\":1}"), ("unknown", "1", "no-name")))

    // append two more frames; same checkpoint → only the new ones arrive
    Files.writeString(log, frame("del", 2, "x") + frame("edit", 3, "y"),
      StandardOpenOption.APPEND)
    runOnce(log, dir)
    assert(sinkRows(dir) == Seq(
      ("del", "2", "x"), ("edit", "1", "{\"a\":1}"), ("edit", "3", "y"),
      ("unknown", "1", "no-name")))
  }

  test("maxEventsPerTrigger bounds each micro-batch (admission control)") {
    val dir = tmpDir("sse-rate")
    val log = dir.resolve("stream.log")
    Files.writeString(log, (1 to 10).map(i => frame("e", i, s"d$i")).mkString)

    val q = spark.readStream.format("sse")
      .option("path", log.toString).option("maxEventsPerTrigger", "3")
      .load()
      .writeStream.format("memory").queryName("sse_rate")
      .option("checkpointLocation", dir.resolve("cp").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.sql("SELECT count(*) FROM sse_rate").head().getLong(0) == 10)
    val progress = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(progress.length >= 4 && progress.forall(_ <= 3),
      s"expected >=4 batches of <=3 rows, got ${progress.mkString(",")}")
  }

  test("an unterminated trailing frame is left for the next batch") {
    val dir = tmpDir("sse-partial")
    val log = dir.resolve("stream.log")
    Files.writeString(log, frame("a", 1, "full") + "event: b\ndata: partial")

    runOnce(log, dir)
    assert(sinkRows(dir).map(_._1) == Seq("a"))

    Files.writeString(log, "\n\n", StandardOpenOption.APPEND) // complete it
    runOnce(log, dir)
    assert(sinkRows(dir).map(r => (r._1, r._3)) == Seq(("a", "full"), ("b", "partial")))
  }

  test("directory of logs → one partition per log, independent offsets") {
    val dir = tmpDir("sse-multi")
    val logs = dir.resolve("logs")
    Files.createDirectories(logs)
    Files.writeString(logs.resolve("p0.log"), frame("a", 1, "x") + frame("a", 2, "y"))
    Files.writeString(logs.resolve("p1.log"), frame("b", 10, "z"))

    // batch: parallelism = number of logs
    val batch = spark.read.format("sse").option("path", logs.toString).load()
    assert(batch.rdd.getNumPartitions == 2)
    assert(batch.count() == 3)

    // streaming: both logs read; appending to one + adding a NEW log resumes
    val sink = dir.resolve("out")
    def run(): Unit = {
      val q = spark.readStream.format("sse").option("path", logs.toString).load()
        .writeStream.format("parquet").option("path", sink.toString)
        .option("checkpointLocation", dir.resolve("cp").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    run()
    assert(spark.read.parquet(sink.toString).count() == 3)
    Files.writeString(logs.resolve("p1.log"), frame("b", 11, "w"), StandardOpenOption.APPEND)
    Files.writeString(logs.resolve("p2.log"), frame("c", 20, "new-partition"))
    run()
    val all = spark.read.parquet(sink.toString)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(all == Seq(("a", "1"), ("a", "2"), ("b", "10"), ("b", "11"), ("c", "20")))
  }

  test("last-event-id crosses micro-batch boundaries (WHATWG continuous-parse semantics)") {
    val dir = tmpDir("sse-xbatch")
    val log = dir.resolve("stream.log")
    // id-bearing frame, then an id-less frame: with maxEventsPerTrigger=1
    // they land in different micro-batches, and the second must still
    // inherit id "7" from the first (carried in the offset cursor)
    Files.writeString(log, "event: a\nid: 7\ndata: x\n\n" + "data: later\n\n")
    val q = spark.readStream.format("sse")
      .option("path", log.toString).option("maxEventsPerTrigger", "1").load()
      .writeStream.format("memory").queryName("sse_xbatch")
      .option("checkpointLocation", dir.resolve("cp").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val progress = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(progress.length == 2, s"expected 2 single-event batches, got ${progress.mkString(",")}")
    val rows = spark.sql("SELECT event, id, data FROM sse_xbatch ORDER BY event")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(rows == Seq(("a", "7", "x"), ("unknown", "7", "later")))
  }

  test("offset json round-trips cursors (and reads round-1 numeric offsets)") {
    val cursors = Map(
      "/logs/a.log" -> LogCursor(42L, Some("id|with\"odd\\chars"), Some(1500L)),
      "/logs/b.log" -> LogCursor(7L, None, None),
      "/logs/c.log" -> LogCursor(0L, Some(""), None)) // empty-string id is a valid WHATWG id
    assert(SseOffset.fromJson(SseOffset(cursors).json()).cursors == cursors)
    assert(SseOffset.fromJson("""{"p.log":123}""").cursors ==
      Map("p.log" -> LogCursor(123L, None, None)))
  }

  test("exactly-once: a batch that fails before commit is replayed identically on restart") {
    val dir = tmpDir("sse-eo")
    val log = dir.resolve("stream.log")
    Files.writeString(log, (1 to 4).map(i => frame("e", i, s"d$i")).mkString)
    val deliveries = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[String])]
    def run(failBatch0: Boolean): Unit = {
      val q = spark.readStream.format("sse")
        .option("path", log.toString).option("maxEventsPerTrigger", "2").load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
          val ids = df.select("id").collect().map(_.getString(0)).toSeq.sorted
          deliveries.synchronized { deliveries += ((bid, ids)) }
          if (failBatch0 && bid == 0)
            throw new RuntimeException("injected failure before commit")
        }
        .option("checkpointLocation", dir.resolve("cp").toString)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(60000)
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
    }
    run(failBatch0 = true) // batch 0 delivered, sink threw → offset NOT committed
    run(failBatch0 = false) // restart from checkpoint
    val byBatch = deliveries.synchronized(deliveries.toList)
    val batch0 = byBatch.filter(_._1 == 0L).map(_._2)
    assert(batch0.size == 2, s"batch 0 must be delivered twice (fail + replay): $byBatch")
    assert(batch0.head == batch0(1), "replayed batch 0 must carry identical rows")
    // committed run covers every event exactly once
    val committed = byBatch.drop(1).flatMap(_._2)
    assert(committed.sorted == Seq("1", "2", "3", "4"))
  }

  test("a log deleted mid-stream (rotation) is dropped gracefully; the rest resumes") {
    val dir = tmpDir("sse-rotate")
    val logs = dir.resolve("logs")
    Files.createDirectories(logs)
    Files.writeString(logs.resolve("p0.log"), frame("a", 1, "x"))
    Files.writeString(logs.resolve("p1.log"), frame("b", 10, "y"))
    val sink = dir.resolve("out")
    def run(): Unit = {
      val q = spark.readStream.format("sse").option("path", logs.toString).load()
        .writeStream.format("parquet").option("path", sink.toString)
        .option("checkpointLocation", dir.resolve("cp").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    run()
    assert(spark.read.parquet(sink.toString).count() == 2)
    // rotate p1 away; append to p0 — its checkpointed cursor must survive
    Files.delete(logs.resolve("p1.log"))
    Files.writeString(logs.resolve("p0.log"), frame("a", 2, "z"), StandardOpenOption.APPEND)
    run()
    val all = spark.read.parquet(sink.toString)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(all == Seq(("a", "1"), ("a", "2"), ("b", "10")))
  }

  test("a log truncated or rewritten below its end-of-log cursor is rescanned from 0") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = tmpDir("sse-truncate")
    val log = dir.resolve("stream.log")
    Files.writeString(log, (1 to 6).map(i => frame("a", i, s"old$i")).mkString)
    val stream = new SseMicroBatchStream(SseConfig.fromOptions(Map("path" -> log.toString).asJava))
    def fresh(): Map[String, LogCursor] = {
      val r = SseFrameLog.scan(log.toString, 0L, Long.MaxValue)
      Map(log.toString -> LogCursor(r.boundary, r.lastId, r.retryMs))
    }
    assert(stream.reportLatestOffset() == SseOffset(fresh()))
    val oldEnd = Files.size(log)

    // rewritten shorter (rotation by truncate), then appended past the old end
    Files.writeString(log, frame("b", 70, "new1") + "retry: 250\n" + frame("b", 71, "new2"))
    assert(Files.size(log) < oldEnd)
    assert(stream.reportLatestOffset() == SseOffset(fresh()))
    Files.writeString(log, (3 to 9).map(i => frame("b", 70 + i, s"new$i")).mkString,
      StandardOpenOption.APPEND)
    stream.prepareForTriggerAvailableNow()
    val start = stream.initialOffset()
    val end = stream.latestOffset(start, ReadLimit.allAvailable())
    assert(end == SseOffset(fresh()))
    assert(stream.reportLatestOffset() == SseOffset(fresh()))
    // no frame of the rewritten log is skipped
    val rows = stream.planInputPartitions(start, end).toSeq.flatMap { p =>
      val r = stream.createReaderFactory().createReader(p)
      Iterator.continually(r.next()).takeWhile(identity).map(_ => r.get().getUTF8String(2).toString).toList
    }
    assert(rows == (1 to 9).map(i => s"new$i"))
  }

  test("events.filter allowlist + pattern admit only matching events (reference IMPROVEMENT_PLAN Step 7)") {
    val dir = tmpDir("sse-filter")
    val log = dir.resolve("stream.log")
    // "unknown" comes from an event-name-less frame: the filter must see the
    // NORMALIZED name (reference null-handling), not the raw wire field
    Files.writeString(log,
      frame("edit", 1, "a") + frame("del", 2, "b") + "id: 3\ndata: c\n\n" +
        frame("edit-minor", 4, "d") + frame("log", 5, "e"))

    def events(opts: (String, String)*): Seq[String] = {
      var r = spark.read.format("sse").option("path", log.toString)
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load().collect().map(_.getString(0)).toSeq.sorted
    }
    assert(events() == Seq("del", "edit", "edit-minor", "log", "unknown"))
    assert(events("events.filter" -> "edit, del") == Seq("del", "edit"))
    assert(events("events.filter" -> "unknown") == Seq("unknown"))
    assert(events("events.filter.pattern" -> "edit.*") == Seq("edit", "edit-minor"))
    // allowlist OR pattern when both set
    assert(events("events.filter" -> "log", "events.filter.pattern" -> "del") ==
      Seq("del", "log"))

    // streaming path enforces the same predicate… (parquet sink: supports
    // the checkpoint-resume second leg below)
    def runStream(filter: String): Unit = {
      val q = spark.readStream.format("sse")
        .option("path", log.toString).option("events.filter", filter).load()
        .writeStream.format("parquet")
        .option("path", dir.resolve("out").toString)
        .option("checkpointLocation", dir.resolve("cp").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    runStream("edit")
    assert(spark.read.parquet(dir.resolve("out").toString).collect()
      .map(_.getString(0)).toSeq == Seq("edit"))
    // …and because offsets count WIRE frames (byte cursors), a resumed
    // checkpoint with a WIDER filter picks up only NEW frames — the filter
    // change can never re-deliver or skip a frame boundary
    Files.writeString(log, frame("del", 6, "f") + frame("edit", 7, "g"),
      StandardOpenOption.APPEND)
    runStream("edit,del")
    assert(spark.read.parquet(dir.resolve("out").toString)
      .selectExpr("id").collect().map(_.getString(0)).toSeq.sorted ==
      Seq("1", "6", "7"))

    // builder-time validation
    intercept[IllegalArgumentException] {
      spark.read.format("sse").option("path", log.toString)
        .option("events.filter", " , ").load().collect()
    }
    intercept[IllegalArgumentException] {
      spark.read.format("sse").option("path", log.toString)
        .option("events.filter.pattern", "[unclosed").load().collect()
    }
  }

  test("source metrics are queryable from StreamingQueryProgress (reference IMPROVEMENT_PLAN Step 4)") {
    val dir = tmpDir("sse-metrics")
    val log = dir.resolve("stream.log")
    Files.writeString(log, (1 to 6).map(i => frame("e", i, s"d$i")).mkString)
    val q = spark.readStream.format("sse").option("path", log.toString).load()
      .writeStream.format("memory").queryName("sse_srcmetrics")
      .option("checkpointLocation", dir.resolve("cp").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val src = q.recentProgress.filter(_.numInputRows > 0).last.sources.head
    val m = src.metrics
    assert(m.get("numLogs") == "1", s"metrics=$m")
    // every appended frame is committed: consumed == available == file size
    assert(m.get("availableBytes") == Files.size(log).toString, s"metrics=$m")
    assert(m.get("consumedBytes") == Files.size(log).toString, s"metrics=$m")
  }

  test("batch read sees the whole log") {
    val dir = tmpDir("sse-batch")
    val log = dir.resolve("stream.log")
    Files.writeString(log, (1 to 5).map(i => frame("e", i, s"d$i")).mkString)
    assert(spark.read.format("sse").option("path", log.toString).load().count() == 5)
  }
}
