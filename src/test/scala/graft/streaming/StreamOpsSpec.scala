package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("watermarked windowed counts aggregate per window and type") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamEvent]
    in.addData(
      StreamEvent(1, "click", 1.0, ts(5)),
      StreamEvent(2, "click", 2.0, ts(20)),
      StreamEvent(1, "view", 3.0, Timestamp.valueOf("2024-01-01 11:10:00")))
    val q = StreamOps.windowedCounts(in.toDF(), "1 hour", "1 hour")
      .writeStream.format("memory").queryName("wc").outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql(
      "SELECT date_format(window.start,'HH:mm') AS w, event_type, n_events, sum_value FROM wc ORDER BY w, event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq == Seq(("10:00", "click", 2L, 3.0), ("11:00", "view", 1L, 3.0)))
  }

  test("sessionize closes a session after the gap and on watermark timeout") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamEvent]
    // user 1: two events 10 min apart (one session), then 40-min gap → new session
    in.addData(
      StreamEvent(1, "click", 1.0, ts(0)),
      StreamEvent(1, "click", 2.0, ts(10)),
      StreamEvent(1, "click", 4.0, ts(50)))
    val q = StreamOps.sessionize(in.toDS(), gapSec = 1800L)
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val sessions = spark.sql(
      "SELECT user_id, n_events, sum_value FROM sess ORDER BY session_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the first session (2 events, value 3.0) must be closed by the 50-min event
    assert(sessions.contains((1L, 2L, 3.0)), s"got ${sessions.mkString(",")}")
  }

  test("end-to-end: sse source → JSON decode → watermarked windowed agg") {
    val dir = java.nio.file.Files.createTempDirectory("sse-e2e")
    val log = dir.resolve("stream.log")
    def frame(typ: String, t: String, v: Double) =
      s"""event: change\ndata: {"event_type":"$typ","ts":"$t","value":$v}\n\n"""
    java.nio.file.Files.writeString(log,
      frame("edit", "2024-01-01 10:05:00", 1.0) +
        frame("edit", "2024-01-01 10:40:00", 2.0) +
        frame("log", "2024-01-01 11:10:00", 4.0))
    val events = spark.readStream.format("sse").option("path", log.toString).load()
      .select(
        get_json_object(col("data"), "$.event_type").as("event_type"),
        get_json_object(col("data"), "$.ts").cast("timestamp").as("ts"),
        get_json_object(col("data"), "$.value").cast("double").as("value"))
    val q = StreamOps.windowedCounts(events, "1 hour", "1 hour")
      .writeStream.format("memory").queryName("sse_e2e").outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql(
      "SELECT date_format(window.start,'HH:mm') AS w, event_type, n_events, sum_value FROM sse_e2e ORDER BY w, event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq == Seq(("10:00", "edit", 2L, 3.0), ("11:00", "log", 1L, 4.0)))
  }

  test("streaming attribution twin: per-channel totals match the batch ev_attribution") {
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .collect()
      .map(r => ChangeEvent(r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3)))
      .sortBy(e => (e.ts.getTime, e.event_id))
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val in = MemoryStream[ChangeEvent]
    val q = StreamOps.attributionStream(in.toDS())
      .writeStream.format("memory").queryName("attr")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      val streamed = spark.sql("SELECT channel, count(*) FROM attr GROUP BY 1")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = graft.operators.Events.attribution(spark, Sf)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == batch,
        s"attribution stream/batch divergence: streamed=$streamed batch=$batch")
      // every purchase attributed exactly once
      val nPurchases = graft.Tables.events(spark, Sf)
        .filter(col("event_type") === "purchase").count()
      assert(streamed.values.sum == nPurchases)
    } finally q.stop()
  }

  test("end-to-end: sse source → typed decode → streaming SCD-2 compaction") {
    import org.apache.spark.sql.Encoders
    val dir = java.nio.file.Files.createTempDirectory("sse-scd2")
    val log = dir.resolve("stream.log")
    def frame(id: Long, user: Long, typ: String, t: String) =
      s"""event: change\nid: $id\ndata: {"user_id":$user,"event_id":$id,"event_type":"$typ","ts":"$t"}\n\n"""
    // user 1: click→click→view→error (two closed runs); user 2: view→view (none)
    java.nio.file.Files.writeString(log,
      frame(1, 1, "click", "2024-01-01 10:00:00") +
        frame(2, 2, "view", "2024-01-01 10:01:00") +
        frame(3, 1, "click", "2024-01-01 10:05:00") +
        frame(4, 1, "view", "2024-01-01 10:10:00") +
        frame(5, 2, "view", "2024-01-01 10:12:00") +
        frame(6, 1, "error", "2024-01-01 10:20:00"))
    val changes = spark.readStream.format("sse").option("path", log.toString).load()
      .select(
        get_json_object(col("data"), "$.user_id").cast("long").as("user_id"),
        get_json_object(col("data"), "$.event_id").cast("long").as("event_id"),
        get_json_object(col("data"), "$.event_type").as("event_type"),
        get_json_object(col("data"), "$.ts").cast("timestamp").as("ts"))
      .as(Encoders.product[ChangeEvent])
    val q = StreamOps.scd2Stream(changes)
      .writeStream.format("memory").queryName("sse_scd2")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.sql(
      "SELECT user_id, version, status, n_events, valid_from, valid_to FROM sse_scd2")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    def sec(t: String) = java.sql.Timestamp.valueOf(t).getTime / 1000
    // closed intervals only: user 1's click run (2 events) closed by the
    // view, the view run closed by the error; user 2 never changes status
    val want = Set(
      (1L, 1L, "click", 2L, sec("2024-01-01 10:00:00"), sec("2024-01-01 10:10:00")),
      (1L, 2L, "view", 1L, sec("2024-01-01 10:10:00"), sec("2024-01-01 10:20:00")))
    assert(got == want, s"SCD-2 over the SSE wire diverged: got $got")
  }

  test("topic-routed streaming sink: events land partitioned by topic") {
    val dir = java.nio.file.Files.createTempDirectory("sse-route")
    val log = dir.resolve("stream.log")
    java.nio.file.Files.writeString(log,
      "event: click\nid: 1\ndata: a\n\nevent: view\nid: 2\ndata: b\n\nevent: click\nid: 3\ndata: c\n\n")
    val out = dir.resolve("topics")
    // the reference routes every event to a configured topic; the Spark-
    // native form routes per event class via a partitioned sink
    val q = StreamOps.routeToTopics(
      spark.readStream.format("sse").option("path", log.toString).load()
        .withColumnRenamed("event", "event_type"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").partitionBy("topic").parquet(out.toString)
      }
      .option("checkpointLocation", dir.resolve("cp").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val dirs = new java.io.File(out.toString).listFiles().map(_.getName)
      .filter(_.startsWith("topic=")).sorted.toSeq
    assert(dirs == Seq("topic=sse_click", "topic=sse_view"))
    assert(spark.read.parquet(out.toString + "/topic=sse_click").count() == 2)
  }

  test("streaming anomalies: running per-type stats flag only the outlier") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamEvent]
    // 40 in-band events (values alternate ±1 → mean 0, sd ≈ 1), then a spike
    val normal = (0 until 40).map(i =>
      StreamEvent(i.toLong, "click", if (i % 2 == 0) 1.0 else -1.0, ts(i % 60)))
    in.addData(normal :+ StreamEvent(99L, "click", 50.0, Timestamp.valueOf("2024-01-01 11:00:00")): _*)
    val q = StreamOps.anomalies(in.toDS(), minN = 30, zThreshold = 3.0)
      .writeStream.format("memory").queryName("anom").outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("SELECT user_id, value, z FROM anom")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(rows.map(t => (t._1, t._2)) == Seq((99L, 50.0)), s"got $rows")
    assert(rows.head._3 > 10.0, s"spike z-score should be extreme: ${rows.head._3}")
  }

  test("stream-stream interval join matches clicks within the hour before each purchase") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[StreamEvent]
    val purchases = MemoryStream[StreamEvent]
    clicks.addData(
      StreamEvent(1, "click", 1.0, ts(0)), // 10:00 — within the hour
      StreamEvent(1, "click", 2.0, Timestamp.valueOf("2024-01-01 08:00:00")), // too old
      StreamEvent(2, "click", 3.0, ts(10))) // other user
    purchases.addData(StreamEvent(1, "purchase", 9.0, ts(30))) // 10:30
    val q = StreamOps.clickPurchaseJoin(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("ssj").outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("SELECT user_id, click_value FROM ssj")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows == Seq((1L, 1.0)), s"got $rows")
  }

  test("streaming KMV sketch accumulates distinct users across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.distinctSketch(in.toDS(), k = 64)
      .writeStream.format("memory").queryName("kmv").outputMode(OutputMode.Update())
      .start()
    try {
      in.addData((1 to 10).map(u => StreamEvent(u.toLong, "click", 1.0, ts(u % 60))): _*)
      q.processAllAvailable()
      // users 6-20 overlap 1-10 on 6-10: union = users 1-20 = 20 distinct
      in.addData((6 to 20).map(u => StreamEvent(u.toLong, "click", 1.0, ts(u % 60))): _*)
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT n_distinct_est, n_in_sketch FROM kmv")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      // update mode appends one refreshed row per batch; last = cumulative
      assert(rows.head == ((10L, 10)), s"got $rows")
      assert(rows.last == ((20L, 20)), s"got $rows")
    } finally q.stop()
  }

  test("dedupById drops replayed events within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val e = (7L, ts(1), "payload")
    in.addData(e, e, (8L, ts(2), "other"))
    val df = in.toDF().toDF("event_id", "ts", "data")
    val q = StreamOps.dedupById(df)
      .writeStream.format("memory").queryName("dd").outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.sql("SELECT count(*) FROM dd").head().getLong(0) == 2)
  }

  test("streaming KMV sketch matches the batch sketch estimate on the whole events table") {
    // same hash, same k, same estimator → the streaming state after one
    // pass over the table must equal the batch query's estimate exactly
    implicit val sqlCtx = spark.sqlContext
    val evRows = graft.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .as[StreamEvent].collect().toSeq
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.distinctSketch(in.toDS(), k = 64)
      .writeStream.format("memory").queryName("kmvp").outputMode(OutputMode.Update()).start()
    try {
      in.addData(evRows: _*)
      q.processAllAvailable()
      val streamEst = spark.sql("SELECT event_type, n_distinct_est FROM kmvp")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batchEst = graft.operators.Events.distinctSketch(spark, Sf)
        .select(col("event_type"), col("sketch_estimate"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamEst.nonEmpty && streamEst == batchEst)
    } finally q.stop()
  }

  test("streaming HLL matches the batch estimate on real events; replay cannot move it") {
    // same hash, bucket/rho arithmetic, and integer harmonic sum → the
    // streaming registers after one pass equal the batch query's exactly;
    // a full REPLAY of the table then merges by register max into the
    // same state — the idempotence a counter lacks
    implicit val sqlCtx = spark.sqlContext
    val evRows = graft.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .as[StreamEvent].collect().toSeq
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.hllSketch(in.toDS())
      .writeStream.format("memory").queryName("hllp").outputMode(OutputMode.Update()).start()
    try {
      in.addData(evRows: _*)
      q.processAllAvailable()
      def latest(): Map[String, (Double, Int)] = {
        // Update mode appends a row per batch: the LAST row per type is
        // the current state
        val all = spark.sql("SELECT event_type, hll_estimate, n_regs_used FROM hllp").collect()
        all.zipWithIndex.groupBy(_._1.getString(0))
          .map { case (t, rs) =>
            val r = rs.maxBy(_._2)._1; t -> (r.getDouble(1), r.getInt(2)) }
      }
      val batch = graft.operators.Events.hllDistinct(spark, Sf)
        .select(col("event_type"), col("hll_estimate"), col("n_regs_used"))
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2).toInt)).toMap
      val afterPass = latest()
      assert(afterPass.nonEmpty && afterPass == batch)
      in.addData(evRows: _*) // replay the WHOLE table
      q.processAllAvailable()
      assert(latest() == batch, "replayed events must not move a max-merged sketch")
    } finally q.stop()
  }

  test("keyed state survives a checkpointed stop/restart: resumed HLL equals the batch answer") {
    // the production property: an operator can be stopped (deploy, crash)
    // and a NEW query resumed from the checkpoint continues from the same
    // keyed state — registers accumulated before the stop are not lost
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile.getAbsolutePath
    val evRows = graft.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .as[StreamEvent].collect().toSeq
    val (b1, b2) = evRows.splitAt(evRows.size / 2)
    val in = MemoryStream[StreamEvent]
    // foreachBatch is the sink shape that supports checkpoint recovery
    // (the memory sink refuses to resume); the latest row per type wins
    val results = new scala.collection.concurrent.TrieMap[String, (Double, Int)]()
    def start() = StreamOps.hllSketch(in.toDS())
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update())
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[HllEstimate], _: Long) =>
        ds.collect().foreach(h => results(h.event_type) = (h.hll_estimate, h.n_regs_used))
      }
      .start()
    val q1 = start()
    try { in.addData(b1: _*); q1.processAllAvailable() } finally q1.stop()
    val q2 = start() // NEW query, same checkpoint → resumes state
    try {
      in.addData(b2: _*)
      q2.processAllAvailable()
      val resumed = results.toMap
      val batch = graft.operators.Events.hllDistinct(spark, Sf)
        .select(col("event_type"), col("hll_estimate"), col("n_regs_used"))
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2).toInt)).toMap
      assert(resumed.keySet == batch.keySet,
        s"every type must appear in the post-restart batch: ${resumed.keySet} vs ${batch.keySet}")
      assert(resumed == batch,
        "state resumed from the checkpoint must land on the full-corpus answer")
    } finally q2.stop()
  }

  test("streaming heavy hitters keep the Misra-Gries guarantees on real events across batches") {
    // bit-level MG state depends on arrival order; its GUARANTEES do not —
    // pin those: bounded state, every heavy user tracked, counters are
    // lower bounds within n/(k+1) of the truth
    implicit val sqlCtx = spark.sqlContext
    val k = 8
    val evRows = graft.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .as[StreamEvent].collect().toSeq
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.heavyHitters(in.toDS(), k)
      .writeStream.format("memory").queryName("hh").outputMode(OutputMode.Update()).start()
    try {
      val (b1, b2) = evRows.splitAt(evRows.size / 2) // two batches: state must carry
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val rows = spark.sql(
        "SELECT event_type, n_events, users, count_lower_bounds FROM hh").collect()
      val byType = rows.zipWithIndex.groupBy(_._1.getString(0))
        .map { case (t, rs) => t -> rs.maxBy(_._1.getLong(1))._1 }
      val truth = evRows.groupBy(e => (e.event_type, e.user_id))
        .map { case ((t, u), es) => (t, u) -> es.size.toLong }
      for ((t, r) <- byType) {
        val n = r.getLong(1)
        val users = r.getSeq[Long](2)
        val lbs = r.getSeq[Long](3)
        assert(users.size <= k && users.size == lbs.size)
        assert(lbs == lbs.sorted.reverse, "counters must be sorted desc")
        val err = n / (k + 1)
        // every user over the frequency threshold must be tracked
        val heavy = truth.collect { case ((`t`, u), c) if c > err => u }.toSet
        assert(heavy.subsetOf(users.toSet),
          s"$t: heavy users $heavy must all be tracked in ${users.toSet}")
        // each counter is a lower bound within n/(k+1)
        for ((u, lb) <- users.zip(lbs)) {
          val c = truth((t, u))
          assert(lb <= c && c - lb <= err, s"$t/$u: lb $lb vs true $c (err bound $err)")
        }
      }
      assert(byType.nonEmpty)
    } finally q.stop()
  }

  test("streaming Bloom decontamination flags exactly what the batch pass flags") {
    implicit val sqlCtx = spark.sqlContext
    // the batch pass publishes its filter words; the stream embeds them
    val words = graft.operators.Dedup.bloomFilterWords(spark, Sf)
    // same train construction as the batch operator: organic + planted
    val base = graft.Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val trainRows = base.filter(col("doc_id") % 97 =!= 0)
      .unionAll(base.filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text")))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.decontaminateStream(
      in.toDF().toDF("doc_id", "text"), words.toSeq)
      .writeStream.format("memory").queryName("bloomstream").start()
    try {
      in.addData(trainRows: _*)
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT doc_id, n_shingles, n_flagged FROM bloomstream WHERE n_flagged > 0")
        .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getInt(2).toLong)).toSet
      val want = graft.operators.Dedup.decontaminateBloom(spark, Sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(want.nonEmpty && got == want,
        s"stream/batch divergence (missing: ${(want -- got).take(3)}, extra: ${(got -- want).take(3)})")
    } finally q.stop()
  }

  test("native session_window agg emits the same sessions as the independent gap-split fold") {
    implicit val sqlCtx = spark.sqlContext
    val gapSec = 1800L
    val evRows = graft.Tables.events(spark, Sf)
      .filter(col("user_id") < 20)
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .as[StreamEvent].collect().toSeq
    val expected = evRows.groupBy(_.user_id).flatMap { case (u, es) =>
      val sorted = es.sortBy(_.ts.getTime)
      val sessions = sorted.foldLeft(List.empty[List[StreamEvent]]) {
        case (Nil, e) => List(List(e))
        case (cur :: done, e) =>
          // strict <: native session_window windows are half-open
          // [ts, ts+gap) — an event exactly gap after the previous one
          // starts a NEW session (unlike sessionize's fMGWS <= merge)
          if (e.ts.getTime - cur.head.ts.getTime < gapSec * 1000) (e :: cur) :: done
          else List(e) :: cur :: done
      }
      // session_window convention: start = first event, end = last + gap
      sessions.map(s => (u, s.size.toLong,
        math.round(s.map(_.value).sum * 100),
        s.map(_.ts.getTime).min, s.map(_.ts.getTime).max + gapSec * 1000))
    }.toSet
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.sessionWindowAgg(in.toDF(), gap = "30 minutes")
      .writeStream.format("memory").queryName("sesswin")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(evRows: _*)
      q.processAllAvailable()
      val sentinel = StreamEvent(999999L, "x", 0.0,
        new Timestamp(evRows.map(_.ts.getTime).max + 86400000L))
      in.addData(sentinel)
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT user_id, n_events, sum_value, session_start, session_end FROM sesswin WHERE user_id < 20")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 100),
          r.getTimestamp(3).getTime, r.getTimestamp(4).getTime)).toSet
      assert(expected.nonEmpty && got == expected,
        s"native session_window diverged from the fold (missing: ${(expected -- got).take(3)}, extra: ${(got -- expected).take(3)})")
    } finally q.stop()
  }

  test("streaming sessionizer reproduces the gap-split sessions of an independent fold on real events") {
    implicit val sqlCtx = spark.sqlContext
    val gapSec = 1800L
    val evRows = graft.Tables.events(spark, Sf)
      .filter(col("user_id") < 20)
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .as[StreamEvent].collect().toSeq
    // independent reference: per user, sort by time and split on > gap —
    // at FLOOR-SECOND granularity, the batch ev_sessionize rule
    val expected = evRows.groupBy(_.user_id).flatMap { case (u, es) =>
      val sorted = es.sortBy(_.ts.getTime)
      val sessions = sorted.foldLeft(List.empty[List[StreamEvent]]) {
        case (Nil, e) => List(List(e))
        case (cur :: done, e) =>
          if (Math.floorDiv(e.ts.getTime, 1000L) -
            Math.floorDiv(cur.head.ts.getTime, 1000L) <= gapSec) (e :: cur) :: done
          else List(e) :: cur :: done
      }
      sessions.map(s => (u, s.size.toLong,
        math.round(s.map(_.value).sum * 100), // cent-exact, order-free compare
        s.map(_.ts.getTime).min, s.map(_.ts.getTime).max))
    }.toSet
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.sessionize(in.toDS(), gapSec = gapSec)
      .writeStream.format("memory").queryName("sessp").outputMode(OutputMode.Append()).start()
    try {
      in.addData(evRows: _*)
      q.processAllAvailable()
      // a far-future sentinel advances the watermark past every session's
      // timeout so the final open sessions close and emit
      val sentinel = StreamEvent(999999L, "x", 0.0,
        new Timestamp(evRows.map(_.ts.getTime).max + 86400000L))
      in.addData(sentinel)
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT user_id, n_events, sum_value, session_start, session_end FROM sessp WHERE user_id < 20")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 100),
          r.getTimestamp(3).getTime, r.getTimestamp(4).getTime)).toSet
      assert(expected.nonEmpty && got == expected)
    } finally q.stop()
  }

  test("sessionize gaps compare at floor-seconds like batch ev_sessionize, not raw ms") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.sessionize(in.toDS(), gapSec = 1800L)
      .writeStream.format("memory").queryName("sessfs")
      .outputMode(OutputMode.Append()).start()
    try {
      // raw gap = 1 800 800 ms (> 30 min), but floor-second diff is
      // exactly 1800 — the batch window MERGES this pair; an ms-gap
      // stream would split it
      in.addData(
        StreamEvent(1, "click", 1.0, Timestamp.valueOf("2024-01-01 10:00:00.1")),
        StreamEvent(1, "click", 2.0, Timestamp.valueOf("2024-01-01 10:30:00.9")))
      q.processAllAvailable()
      // sentinel watermark flushes the open session
      in.addData(StreamEvent(99, "x", 0.0, Timestamp.valueOf("2024-01-03 00:00:00")))
      q.processAllAvailable()
      in.addData(StreamEvent(99, "x", 0.0, Timestamp.valueOf("2024-01-03 00:00:01")))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT n_events, sum_value FROM sessfs WHERE user_id = 1").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == Seq((2L, 3.0)),
        s"boundary-straddling pair must merge like the batch rule, got $got")
    } finally q.stop()
  }

  test("streaming sessionizer matches batch ev_sessionize session-for-session") {
    implicit val sqlCtx = spark.sqlContext
    val evRows = graft.Tables.events(spark, Sf)
      .filter(col("user_id") < 20)
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .as[StreamEvent].collect().toSeq
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.sessionize(in.toDS())
      .writeStream.format("memory").queryName("sessbp")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(evRows: _*)
      q.processAllAvailable()
      val sentinel = StreamEvent(999999L, "x", 0.0,
        new Timestamp(evRows.map(_.ts.getTime).max + 86400000L))
      in.addData(sentinel); q.processAllAvailable()
      in.addData(sentinel); q.processAllAvailable()
      val got = spark.sql(
        """SELECT user_id, n_events, round(sum_value, 2),
          |  unix_timestamp(session_start), unix_timestamp(session_end)
          |FROM sessbp WHERE user_id < 20""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
        .toSet
      val batch = graft.operators.Events.sessionize(spark, Sf)
        .filter(col("user_id") < 20)
        .select(col("user_id"), col("n_events"), col("sum_value"),
          col("session_start"), col("session_end")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(got.nonEmpty && got == batch,
        s"stream/batch session divergence (missing: ${(batch -- got).take(3)}, " +
          s"extra: ${(got -- batch).take(3)})")
    } finally q.stop()
  }

  test("TWS sessionizer: sessions match batch ev_sessionize session-for-session on RocksDB") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val evRows = graft.Tables.events(spark, Sf)
      .filter(col("user_id") < 20)
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .as[StreamEvent].collect().toSeq
      .sortBy(e => StreamOps.usOf(e.ts))
    // mid-stream split: sessions spanning the boundary must merge from
    // checkpointed ValueState, and timers must re-arm across batches
    val (b1, b2) = evRows.splitAt(evRows.length / 2)
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.sessionizeTws(in.toDS())
      .writeStream.format("memory").queryName("sesstws")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      val sentinel = StreamEvent(999999L, "x", 0.0,
        new Timestamp(evRows.map(_.ts.getTime).max + 86400000L))
      in.addData(sentinel); q.processAllAvailable()
      in.addData(sentinel); q.processAllAvailable()
      val got = spark.sql(
        """SELECT user_id, n_events, round(sum_value, 2),
          |  unix_timestamp(session_start), unix_timestamp(session_end)
          |FROM sesstws WHERE user_id < 20""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
        .toSet
      val batch = graft.operators.Events.sessionize(spark, Sf)
        .filter(col("user_id") < 20)
        .select(col("user_id"), col("n_events"), col("sum_value"),
          col("session_start"), col("session_end")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(got.nonEmpty && got == batch,
        s"TWS stream/batch session divergence (missing: ${(batch -- got).take(3)}, " +
          s"extra: ${(got -- batch).take(3)})")
    } finally {
      q.stop()
      prior match { case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key) }
    }
  }

  test("TWS sessionizer timers: the session close fires across a checkpointed restart") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files.createTempDirectory("twssesstimer").toString
    val in = MemoryStream[StreamEvent]
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Long, Long)]
    def commits(): Int = {
      val d = new java.io.File(ckpt, "commits")
      if (d.exists()) d.listFiles().count(!_.getName.startsWith(".")) else 0
    }
    def runBatch(expected: Int): Unit = {
      val committed = commits()
      val q = StreamOps.sessionizeTws(in.toDS(), gapSec = 1800L, lateness = "1 minute")
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[Session], _: Long) =>
          rows.synchronized {
            rows ++= ds.collect().map(s => (s.user_id, s.n_events, s.sum_value,
              s.session_start.getTime / 1000, s.session_end.getTime / 1000))
          }: Unit
        }
        .start()
      try {
        val deadline = System.currentTimeMillis + 60000
        while ((rows.synchronized(rows.size) < expected ||
            commits() <= committed) && System.currentTimeMillis < deadline)
          Thread.sleep(100)
      } finally q.stop()
    }
    try {
      // run 1: user 1's two-event session; timer armed at ts+gap+1 —
      // shutdown BEFORE the watermark reaches it
      in.addData(StreamEvent(1, "click", 1.5, hts(0)), StreamEvent(1, "view", 2.5, hts(1)))
      runBatch(expected = 0)
      assert(rows.synchronized(rows.isEmpty), s"no closed session yet, got $rows")
      // run 2 (fresh query, same checkpoint): user 99 pushes the watermark
      // hours forward; the engine fires user 1's RESTORED timer → close
      in.addData(StreamEvent(99, "x", 0.0, hts(240)))
      runBatch(expected = 0)
      in.addData(StreamEvent(99, "x", 0.0, hts(241)))
      runBatch(expected = 1)
      val closed = rows.synchronized(rows.filter(_._1 == 1L).toList)
      assert(closed == List((1L, 2L, 4.0, hts(0).getTime / 1000, hts(1).getTime / 1000)),
        s"restored timer must close user 1's session at its boundaries, got $closed")
    } finally {
      prior match { case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key) }
    }
  }

  test("streaming quantile sketch merges bucket counts across batches; estimate follows the batch rank rule") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.quantileSketch(in.toDS())
      .writeStream.format("memory").queryName("qsk").outputMode(OutputMode.Update()).start()
    try {
      in.addData(StreamEvent(1, "click", 1.00, ts(1)), StreamEvent(2, "click", 2.00, ts(2)))
      q.processAllAvailable()
      in.addData(StreamEvent(3, "click", 4.00, ts(3)), StreamEvent(4, "click", 50.00, ts(4)))
      q.processAllAvailable()
      val last = spark.sql(
        "SELECT n_events, n_buckets, p50_est FROM qsk ORDER BY n_events DESC LIMIT 1").head()
      assert(last.getLong(0) == 4L, "state must accumulate across batches")
      assert(last.getInt(1) == 4, "four distinct value buckets")
      // rank ceil(0.5·4)=2 lands in 2.00's bucket: cents 200 → octave 8
      // (lo=128), sub=(200-128)·16/128=9 → midpoint (128 + 9.5·8)/100 = 2.04
      assert(last.getDouble(2) == 2.04)
    } finally q.stop()
  }

  test("streaming funnel emits one conversion per user, in step order, across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.funnel(in.toDS())
      .writeStream.format("memory").queryName("funl").outputMode(OutputMode.Append()).start()
    try {
      // user 1 signs up and clicks in batch 1; user 2's click PRECEDES
      // their signup (wrong order — must never convert)
      in.addData(
        StreamEvent(1, "signup", 0.0, ts(0)), StreamEvent(1, "click", 0.0, ts(5)),
        StreamEvent(2, "click", 0.0, ts(1)), StreamEvent(2, "signup", 0.0, ts(2)),
        StreamEvent(2, "purchase", 0.0, ts(3)))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM funl").head().getLong(0) == 0)
      // user 1 purchases in batch 2 → exactly one conversion; the second
      // purchase is ignored (completed funnels never re-emit)
      in.addData(
        StreamEvent(1, "purchase", 0.0, ts(20)),
        StreamEvent(1, "purchase", 0.0, ts(30)))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, duration_ms FROM funl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows == Seq((1L, 20L * 60000L)), s"got $rows")
    } finally q.stop()
  }

  test("streaming funnel converts on timestamp-tied steps regardless of arrival order") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.funnel(in.toDS())
      .writeStream.format("memory").queryName("funltie").outputMode(OutputMode.Append()).start()
    try {
      // all three steps share ONE timestamp, added in reverse step order:
      // the per-batch sort must order ties by step index (matching the
      // batch funnel's at-or-after >= chain), not leave them in arrival /
      // shuffle order where the chain would silently break
      in.addData(
        StreamEvent(7, "purchase", 0.0, ts(10)),
        StreamEvent(7, "click", 0.0, ts(10)),
        StreamEvent(7, "signup", 0.0, ts(10)))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, duration_ms FROM funltie").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows == Seq((7L, 0L)), s"got $rows")
    } finally q.stop()
  }

  test("lateness monitor rounds late_frac HALF_UP like the batch audit") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.latenessMonitor(in.toDS())
      .writeStream.format("memory").queryName("latmr").outputMode(OutputMode.Update()).start()
    try {
      in.addData(StreamEvent(1, "click", 1.0, ts(50)))
      q.processAllAvailable()
      // 1 late of 6 → 1/6 = 0.16666…, which floor-truncation would report
      // as 0.1666 — one 1e-4 step below the batch round(...,4) HALF_UP
      in.addData(
        StreamEvent(2, "click", 1.0, ts(5)), // late vs the 10:50 running max
        StreamEvent(3, "click", 1.0, ts(51)), StreamEvent(4, "click", 1.0, ts(52)),
        StreamEvent(5, "click", 1.0, ts(53)), StreamEvent(6, "click", 1.0, ts(54)))
      q.processAllAvailable()
      val last = spark.sql(
        "SELECT n_events, n_late, late_frac FROM latmr ORDER BY n_events DESC LIMIT 1").head()
      assert(last.getLong(0) == 6L && last.getLong(1) == 1L)
      assert(last.getDouble(2) == 0.1667, s"got ${last.getDouble(2)}")
    } finally q.stop()
  }

  test("lateness monitor tracks disorder against the cross-batch running event-time max") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.latenessMonitor(in.toDS())
      .writeStream.format("memory").queryName("latm").outputMode(OutputMode.Update()).start()
    try {
      in.addData(StreamEvent(1, "click", 1.0, ts(0)), StreamEvent(2, "click", 1.0, ts(30)))
      q.processAllAvailable()
      // 10:05 is 25 min behind the 10:30 max carried in state from batch 1
      in.addData(StreamEvent(3, "click", 1.0, ts(5)), StreamEvent(4, "click", 1.0, ts(40)))
      q.processAllAvailable()
      val last = spark.sql(
        "SELECT n_events, n_late, late_frac, max_late_ms FROM latm ORDER BY n_events DESC LIMIT 1")
        .head()
      assert(last.getLong(0) == 4L && last.getLong(1) == 1L)
      assert(last.getDouble(2) == 0.25)
      assert(last.getLong(3) == 25L * 60000L)
    } finally q.stop()
  }

  test("watermark drop parity: the batch lateness audit predicts streaming loss at a candidate delay") {
    // The executable form of ev_lateness's contract (operators/Events
    // .lateness): an event whose lateness behind the running event-time max
    // exceeds the watermark delay is LOST to a watermarked aggregation; one
    // whose lateness is within the delay survives; a delay >= the audit's
    // max lateness loses nothing.
    //
    // Arrival: batch 1 advances event time to 10:30; batch 2 delivers one
    // event 25 min late (10:05) and one 90 min late (09:00).
    def run(queryName: String, delay: String): Long = {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[StreamEvent]
      // Update mode: late rows ARE watermark-filtered (Complete mode keeps
      // all state and drops nothing); the sink holds one row per window
      // update, so the final count per window is its max update
      val q = StreamOps.windowedCounts(in.toDF(), "1 hour", delay)
        .writeStream.format("memory").queryName(queryName)
        .outputMode(OutputMode.Update()).start()
      try {
        in.addData(
          StreamEvent(1, "click", 1.0, ts(0)),
          StreamEvent(2, "click", 1.0, ts(30)))
        q.processAllAvailable() // watermark advances to 10:30 - delay
        in.addData(
          StreamEvent(3, "click", 1.0, ts(5)), // 25 min late
          StreamEvent(4, "click", 1.0, Timestamp.valueOf("2024-01-01 09:00:00"))) // 90 min late
        q.processAllAvailable()
        spark.sql(
          s"""SELECT sum(m) FROM (SELECT max(n_events) AS m FROM $queryName
             |GROUP BY window, event_type)""".stripMargin).head().getLong(0)
      } finally q.stop()
    }
    // audit prediction at delay=30 min: lateness 25 <= 30 survives,
    // 90 > 30 is lost → 3 of 4 events aggregated
    assert(run("wm30", "30 minutes") == 3L)
    // delay >= max lateness (90 min) → lossless: all 4 aggregated
    assert(run("wm120", "2 hours") == 4L)
  }

  test("streaming k-means assignment matches the batch ivfAssignments cell-for-cell") {
    implicit val sqlCtx = spark.sqlContext
    // batch side trains/publishes the codebook and computes the expected cells
    val cents = graft.operators.Similarity.centroidMatrixLocal(spark, Sf)
    assert(cents.size == 16 && cents.head.size == 64, "codebook shape |cells| x dims")
    val expected = graft.operators.Similarity.ivfAssignments(spark, Sf)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // stream side: the same vectors arrive as a stream; assignment is a
    // stateless projection over the literal codebook
    val vecs = graft.Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    val in = MemoryStream[(Long, Seq[Double])]
    val q = StreamOps.assignCellsStream(in.toDF().toDF("vec_id", "e"), cents)
      .writeStream.format("memory").queryName("kmassign")
      .outputMode(OutputMode.Append()).start()
    try {
      // two batches: assignment must be per-row stable regardless of batching
      val (b1, b2) = vecs.splitAt(vecs.size / 2)
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val got = spark.sql("SELECT vec_id, cell FROM kmassign")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == expected.size, s"row count ${got.size} != ${expected.size}")
      val diverged = expected.collect { case (id, c) if got(id) != c => id }.take(5)
      assert(diverged.isEmpty, s"cells diverged from batch assignment at: $diverged")
    } finally q.stop()
  }

  test("streaming typed payload projection decodes every frame to the independently-computed record") {
    implicit val sqlCtx = spark.sqlContext
    val base = graft.Tables.events(spark, Sf).filter(col("event_id") < 500)
    // frames exactly as the DSv2 SSE source emits them: (event, id, data)
    val frames = base
      .select(col("event_type"), col("event_id").cast("string"),
        graft.operators.Events.payloadFrame)
      .as[(String, String, String)].collect().toSeq
    val in = MemoryStream[(String, String, String)]
    val q = StreamOps.projectPayload(in.toDF().toDF("event", "id", "data"))
      .writeStream.format("memory").queryName("proj")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(frames: _*)
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT id, stream, dt, title, namespace, bot, delta FROM proj")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3), r.getInt(4), r.getBoolean(5), r.getInt(6))).toSet
      // independent expectation straight from the raw columns (no Spark
      // JSON code path): the typed record each wire frame must decode to
      val fmt = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(java.time.ZoneOffset.UTC)
      val want = base
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("props"))
        .collect().map { r =>
          val (id, u) = (r.getLong(0), r.getLong(2))
          val k = "[0-9]+".r.findFirstIn(r.getString(4)).getOrElse("")
          (id.toString, s"graft.${r.getString(3)}", fmt.format(r.getTimestamp(1).toInstant),
            s"Page_$k", (u % 16).toInt, u % 7 == 0, (id % 1000).toInt)
        }.toSet
      assert(want.nonEmpty && got == want,
        s"typed projection divergence (missing: ${(want -- got).take(3)}, extra: ${(got -- want).take(3)})")
    } finally q.stop()
  }

  test("streaming SCD-2 twin: closed intervals match the batch ev_scd2 across batches") {
    implicit val sqlCtx = spark.sqlContext
    // the batch cohort's real events, in event-time order, split into two
    // micro-batches mid-stream — state must carry open intervals across
    val evs = graft.Tables.events(spark, Sf)
      .filter(expr("user_id % 10 = 0"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .collect()
      .map(r => ChangeEvent(r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3)))
      .sortBy(e => (e.ts.getTime, e.event_id))
    assert(evs.length > 50, "cohort must be non-trivial")
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val in = MemoryStream[ChangeEvent]
    val q = StreamOps.scd2Stream(in.toDS())
      .writeStream.format("memory").queryName("scd2s")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT user_id, version, status, n_events, valid_from, valid_to FROM scd2s")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      val batchClosed = graft.operators.Events.scd2(spark, Sf)
        .filter(col("valid_to").isNotNull)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      assert(streamed.nonEmpty && streamed == batchClosed,
        s"SCD-2 stream/batch divergence (missing: ${(batchClosed -- streamed).take(3)}, " +
          s"extra: ${(streamed -- batchClosed).take(3)})")
    } finally q.stop()
  }

  test("streaming EWMA twin: latest emission per (type, hour) equals the batch lag chain") {
    implicit val sqlCtx = spark.sqlContext
    val base = graft.Tables.events(spark, Sf)
    val evs = base
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .collect()
      .map(r => StreamEvent(r.getLong(0), r.getString(1), r.getDouble(2), r.getTimestamp(3)))
      .sortBy(_.ts.getTime) // per-key in-order arrival (the documented assumption)
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.ewmaStream(in.toDS())
      .writeStream.format("memory").queryName("ewma")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      // an hour re-emits as it accumulates — keep the LAST emission, which
      // must match the batch row (cnt and the 8/4/2/1 integer EWMA)
      val streamed = spark.sql(
        "SELECT event_type, hour_ts, cnt, ewma_x15 FROM ewma").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
        .foldLeft(Map.empty[(String, Long), (Long, Long)])(_ + _)
      val batch = graft.operators.Events.ewmaHourly(spark, Sf).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
      assert(streamed.keySet == batch.keySet, "same (type, hour) coverage")
      val diverged = batch.filter { case (k, v) => streamed(k) != v }
      assert(diverged.isEmpty, s"EWMA diverged on ${diverged.take(3)}")
    } finally q.stop()
  }

  test("streaming DSIR scorer: shipped model reproduces batch doc scores") {
    implicit val sqlCtx = spark.sqlContext
    val weights = graft.operators.Pipeline.dsirModelLocal(spark, Sf)
    assert(weights.size == 128)
    val docs = graft.Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    case class Doc(doc_id: Long, text: String)
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.dsirScoreStream(
      in.toDF().toDF("doc_id", "text"), weights)
      .writeStream.format("memory").queryName("dsir")
      .outputMode(OutputMode.Append()).start()
    try {
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toIndexedSeq); in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT doc_id, score FROM dsir").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val batch = graft.operators.Pipeline.dsirDocScores(spark, Sf).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(streamed.keySet == batch.keySet, "every doc scored in-flight")
      // the two sides sum identical terms in different orders; round-4
      // may straddle by one step on a re-association ulp
      val off = batch.filter { case (k, v) => math.abs(streamed(k) - v) > 1.001e-4 }
      assert(off.isEmpty, s"DSIR scores diverged: ${off.take(3)}")
    } finally q.stop()
  }

  test("streaming OHLC twin: latest bar per hour equals the batch bar after a split feed") {
    implicit val sqlCtx = spark.sqlContext
    val ticks = graft.Tables.events(spark, Sf)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts"), col("value")).collect()
      .map(r => Tick(r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
    val (b1, b2) = ticks.splitAt(ticks.length / 2)
    val in = MemoryStream[Tick]
    val q = StreamOps.ohlcStream(in.toDS())
      .writeStream.format("memory").queryName("ohlc")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT hour_ts, n_trades, open_cents, high_cents, low_cents, close_cents, volume_cents FROM ohlc")
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))
        .foldLeft(Map.empty[Long, (Long, Long, Long, Long, Long, Long)])(_ + _)
      val batch = graft.operators.Events.ohlcHourly(spark, Sf).collect()
        .map(r => r.getTimestamp(0).getTime / 1000L ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
        .toMap
      assert(streamed.keySet == batch.keySet, "same hour coverage")
      val diverged = batch.filter { case (k, v) => streamed(k) != v }
      assert(diverged.isEmpty, s"bars diverged: ${diverged.take(3)}")
    } finally q.stop()
  }

  test("streaming schema-drift monitor: final profile equals the batch inventory") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.events(spark, Sf)
      .select(graft.operators.Events.payloadFrame.as("doc")).collect()
      .map(_.getString(0))
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val in = MemoryStream[String]
    val q = StreamOps.schemaInferStream(in.toDF().toDF("doc"))
      .writeStream.format("memory").queryName("drift")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      // counts only grow — keep the largest emission per key
      val streamed = spark.sql("SELECT key, shapes FROM drift").collect()
        .map(r => (r.getString(0), r.getMap[String, Long](1).toMap))
        .groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).maxBy(_.values.sum) }
      val batch = graft.operators.Events.schemaInfer(spark, Sf).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .groupBy(_._1)
        .map { case (k, rows) => k -> rows.map(r => r._2 -> r._3).toMap }
      assert(streamed == batch,
        s"drift profile diverged: stream keys ${streamed.keySet}, batch ${batch.keySet}")
    } finally q.stop()
  }

  test("streaming burst monitor: every closed hour's verdict matches a local prefix fold") {
    implicit val sqlCtx = spark.sqlContext
    val errs = graft.Tables.events(spark, Sf)
      .filter(col("event_type") === "error")
      .select(col("user_id"), col("event_type"), col("value"), col("ts")).collect()
      .map(r => StreamEvent(r.getLong(0), r.getString(1), r.getDouble(2), r.getTimestamp(3)))
      .sortBy(_.ts.getTime)
    val (b1, b2) = errs.splitAt(errs.length / 2)
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.burstStream(in.toDS())
      .writeStream.format("memory").queryName("burst")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      val streamed = spark.sql("SELECT hour_ts, cnt, burst FROM burst").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
      // local prefix fold over the same hourly series: hour t tested
      // against the integer mean+3σ of hours < t
      val hours = errs.groupBy(e => e.ts.getTime / 3600000L * 3600L)
        .map { case (h, xs) => (h, xs.length.toLong) }.toSeq.sortBy(_._1)
      val expected = hours.zipWithIndex.dropRight(1).map { case ((h, x), i) =>
        val prior = hours.take(i).map(_._2)
        val (n, s1, s2) = (prior.length.toLong, prior.sum, prior.map(c => c * c).sum)
        val devN = n * x - s1
        h -> (x, n > 0 && devN > 0 && devN * devN > 9L * (n * s2 - s1 * s1))
      }.toMap
      assert(streamed == expected,
        s"verdicts diverged: ${(expected.toSet -- streamed.toSet).take(3)}")
    } finally q.stop()
  }

  test("streaming Count-Min twin: counters equal the batch sketch after a split feed") {
    implicit val sqlCtx = spark.sqlContext
    val base = graft.Tables.events(spark, Sf)
    val evs = base
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .collect()
      .map(r => StreamEvent(r.getLong(0), r.getString(1), r.getDouble(2), r.getTimestamp(3)))
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.countMinStream(in.toDS())
      .writeStream.format("memory").queryName("cms")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      // counters only grow, so the cumulative state per row j is the
      // emitted map with the largest total
      val streamed = spark.sql("SELECT j, counters FROM cms").collect()
        .map(r => (r.getInt(0), r.getMap[Int, Long](1).toMap))
        .groupBy(_._1).map { case (j, rows) => j -> rows.map(_._2).maxBy(_.values.sum) }
      val batch = graft.operators.Events.countMinSketch(base).collect()
        .map(r => ((r.getInt(0), r.getLong(1).toInt), r.getLong(2)))
        .groupBy(_._1._1)
        .map { case (j, rows) => j -> rows.map { case ((_, b), c) => b -> c }.toMap }
      assert(streamed.keySet == batch.keySet && streamed.keySet == Set(0, 1, 2, 3))
      streamed.keySet.foreach { j =>
        assert(streamed(j) == batch(j),
          s"CM row $j diverged: stream has ${streamed(j).size} buckets, batch ${batch(j).size}")
      }
    } finally q.stop()
  }

  test("streaming transition twin: per-edge counts and mean gaps match batch ev_transition_matrix") {
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .collect()
      .map(r => ChangeEvent(r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3)))
      .sortBy(e => (e.ts.getTime, e.event_id))
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val in = MemoryStream[ChangeEvent]
    val q = StreamOps.transitionStream(in.toDS())
      .writeStream.format("memory").queryName("trans")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      val streamed = spark.sql(
        """SELECT from_type, to_type, count(*) AS n,
          |  sum(gap_us) div count(*) AS mean_gap
          |FROM trans GROUP BY 1, 2""".stripMargin)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      val batch = graft.operators.Events.transitionMatrix(spark, Sf)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(4)))
        .toMap
      assert(streamed == batch,
        s"transition stream/batch divergence: ${streamed.size} vs ${batch.size} edges")
      // edge conservation: every event after a user's first emits exactly one edge
      val nEvents = evs.length
      val nUsers = evs.map(_.user_id).distinct.length
      assert(streamed.values.map(_._1).sum == nEvents - nUsers)
    } finally q.stop()
  }

  test("sliding-window parity: streaming windowedCounts(slide=15m) equals batch ev_sliding_counts") {
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .collect()
      .map(r => StreamEvent(r.getLong(0), r.getString(1), r.getDouble(2), r.getTimestamp(3)))
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.windowedCounts(in.toDF(), "1 hour", "1 hour", "15 minutes")
      .writeStream.format("memory").queryName("slide")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT unix_micros(window.start), event_type, n_events FROM slide")
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = graft.operators.Events.slidingCounts(spark, Sf)
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed == batch,
        s"slide parity: ${streamed.size} stream vs ${batch.size} batch windows")
      // overlap accounting: each event counted in exactly window/slide = 4 windows
      assert(batch.values.sum == evs.length * 4L)
    } finally q.stop()
  }

  test("streaming CUSUM twin: final drift verdict matches batch ev_changepoint (ship-the-model ref)") {
    implicit val sqlCtx = spark.sqlContext
    // the batch run publishes each type's mean hourly rate — the CUSUM
    // reference the stream monitors against
    val batchRows = graft.operators.Events.changepoint(spark, Sf).collect()
    val refs = batchRows.map(r => r.getString(0) -> r.getLong(2)).toMap
    val batch = batchRows
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    val evs = graft.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .collect()
      .map(r => StreamEvent(r.getLong(0), r.getString(1), r.getDouble(2), r.getTimestamp(3)))
      .sortBy(_.ts.getTime)
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.cusumStream(in.toDS(), refs)
      .writeStream.format("memory").queryName("cusum")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      // the LAST emission per type is the live verdict; it must equal the
      // batch row (same closed-hour universe: the trailing open hour is
      // excluded on both sides)
      val streamed = spark.sql(
        """SELECT event_type, n_hours, max_drift, drift_hour FROM cusum""")
        .collect()
        .groupBy(_.getString(0))
        .map { case (t, rows) => t -> {
          val r = rows.maxBy(_.getLong(1))
          (r.getLong(1), r.getLong(2), r.getLong(3))
        } }
      assert(streamed == batch,
        s"CUSUM stream/batch divergence: $streamed vs $batch")
    } finally q.stop()
  }

  test("streaming gap-octave twin: per-bucket counts match batch ev_gap_histogram") {
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .collect()
      .map(r => ChangeEvent(r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3)))
      .sortBy(e => (e.ts.getTime, e.event_id))
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val in = MemoryStream[ChangeEvent]
    val q = StreamOps.gapOctaveStream(in.toDS())
      .writeStream.format("memory").queryName("gapoct")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT event_type, bucket, count(*) FROM gapoct GROUP BY 1, 2")
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = graft.operators.Events.gapHistogram(spark, Sf)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed == batch,
        s"gap-octave stream/batch divergence: ${streamed.size} vs ${batch.size} cells")
    } finally q.stop()
  }

  test("streaming bitmap-distinct twin: final popcounts equal batch exact distinct per cell") {
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .collect()
      .map(r => StreamEvent(r.getLong(0), r.getString(1), r.getDouble(2), r.getTimestamp(3)))
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.bitmapDistinctStream(in.toDS())
      .writeStream.format("memory").queryName("bmd")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      // idempotence probe: replay the first half — bit_or cannot double-count
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      // bitmaps only grow: the cumulative state per cell is the emission
      // with the largest count
      val streamed = spark.sql(
        "SELECT day, event_type, max(distinct_users) FROM bmd GROUP BY 1, 2")
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = graft.operators.Events.bitmapDistinct(spark, Sf)
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(4)).toMap
      assert(streamed == batch,
        s"bitmap stream/batch divergence: ${streamed.size} vs ${batch.size} cells")
    } finally q.stop()
  }

  test("transformWithState transition twin: bit-identical to the batch matrix on RocksDB state") {
    implicit val sqlCtx = spark.sqlContext
    // TWS requires the RocksDB state-store provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val evs = graft.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .collect()
      .map(r => ChangeEvent(r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3)))
      .sortBy(e => (e.ts.getTime, e.event_id))
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val in = MemoryStream[ChangeEvent]
    val q = StreamOps.transitionStreamTws(in.toDS())
      .writeStream.format("memory").queryName("twstrans")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      val streamed = spark.sql(
        """SELECT from_type, to_type, count(*) AS n,
          |  sum(gap_us) div count(*) AS mean_gap
          |FROM twstrans GROUP BY 1, 2""".stripMargin)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      val batch = graft.operators.Events.transitionMatrix(spark, Sf)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(4)))
        .toMap
      assert(streamed == batch,
        s"TWS transition stream/batch divergence: ${streamed.size} vs ${batch.size} edges")
    } finally {
      q.stop()
      prior match { case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key) }
    }
  }

  test("dedupWithinWatermark: in-window duplicates dropped, state-reclaimed re-arrival passes") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamEvent]
    def ev(id: Long, t: String) =
      StreamEvent(id, "click", 1.0, java.sql.Timestamp.valueOf(t))
    val q = StreamOps.dedupWithinWatermark(
      in.toDF().withColumnRenamed("user_id", "event_id"), "10 minutes")
      .writeStream.format("memory").queryName("wmdedup")
      .outputMode(OutputMode.Append()).start()
    try {
      // id 1 arrives 3× within 10 min → kept once; id 2 once
      in.addData(ev(1, "2024-01-01 10:00:00"), ev(1, "2024-01-01 10:02:00"),
        ev(2, "2024-01-01 10:03:00"), ev(1, "2024-01-01 10:05:00"))
      q.processAllAvailable()
      // advance the watermark far past the first window, then REUSE id 1:
      // its dedup state has been reclaimed, so the late reuse is a fresh row
      in.addData(ev(3, "2024-01-01 12:00:00")); q.processAllAvailable()
      in.addData(ev(1, "2024-01-01 12:01:00")); q.processAllAvailable()
      val ids = spark.sql("SELECT event_id FROM wmdedup").collect()
        .map(_.getLong(0)).toSeq.sorted
      assert(ids == Seq(1L, 1L, 2L, 3L),
        s"expected one dup drop + one post-reclaim re-admit, got $ids")
    } finally q.stop()
  }

  // ── user-keyed state TTL: the key set must stop growing O(users) ──
  // Each stateful twin keyed by user_id evicts dormant keys on event-time
  // timeout; these specs pin (a) the state-store row count actually drops
  // and (b) an evicted key re-admitted later behaves per the documented
  // semantics (clean restart / lossless "none" / dormancy flush).

  private def hts(min: Long): Timestamp =
    new Timestamp(Timestamp.valueOf("2024-01-01 10:00:00").getTime + min * 60000L)

  private def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.lastProgress.stateOperators.map(_.numRowsTotal).sum

  test("funnel TTL: dormant mid-funnel user evicted; re-admitted user restarts from scratch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.funnel(in.toDS(), lateness = "1 minute", ttlHours = 1L)
      .writeStream.format("memory").queryName("funttl")
      .outputMode(OutputMode.Append()).start()
    try {
      // users 1 and 2 start the funnel, then go dormant
      in.addData(StreamEvent(1, "signup", 0, hts(0)), StreamEvent(1, "click", 0, hts(1)),
        StreamEvent(2, "signup", 0, hts(0)))
      q.processAllAvailable()
      // user 99 advances the watermark 3 h; the next batch fires the timeouts
      in.addData(StreamEvent(99, "signup", 0, hts(180))); q.processAllAvailable()
      in.addData(StreamEvent(99, "click", 0, hts(181))); q.processAllAvailable()
      assert(stateRows(q) == 1L,
        s"users 1 and 2 must be evicted, leaving only user 99: ${stateRows(q)}")
      // user 1's stale prefix is GONE: a lone purchase cannot convert
      in.addData(StreamEvent(1, "purchase", 0, hts(182))); q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM funttl").head().getLong(0) == 0L,
        "an evicted user's purchase must not complete the pre-eviction funnel")
      // ... but a full fresh chain converts exactly once
      in.addData(StreamEvent(1, "signup", 0, hts(183)), StreamEvent(1, "click", 0, hts(184)),
        StreamEvent(1, "purchase", 0, hts(185)))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id FROM funttl").collect().map(_.getLong(0)).toSeq
      assert(rows == Seq(1L), s"re-admitted user converts exactly once, got $rows")
    } finally q.stop()
  }

  test("attribution TTL: eviction at the lookback horizon is lossless") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[ChangeEvent]
    val q = StreamOps.attributionStream(in.toDS(), lookbackHours = 1, lateness = "1 minute")
      .writeStream.format("memory").queryName("attrttl")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(ChangeEvent(1, 10, "click", hts(0))); q.processAllAvailable()
      // watermark passes user 1's click + 1 h lookback → evicted
      in.addData(ChangeEvent(99, 11, "view", hts(180))); q.processAllAvailable()
      in.addData(ChangeEvent(99, 12, "view", hts(181))); q.processAllAvailable()
      assert(stateRows(q) == 1L, s"user 1 must be evicted: ${stateRows(q)}")
      // the post-eviction purchase is outside the horizon anyway: "none"
      // with or without the state — eviction changed nothing
      in.addData(ChangeEvent(1, 13, "purchase", hts(182))); q.processAllAvailable()
      // re-admitted: a fresh click attributes normally
      in.addData(ChangeEvent(1, 14, "click", hts(183)),
        ChangeEvent(1, 15, "purchase", hts(184)))
      q.processAllAvailable()
      val got = spark.sql("SELECT event_id, channel FROM attrttl ORDER BY event_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == Seq((13L, "none"), (15L, "click")), s"got $got")
    } finally q.stop()
  }

  test("SCD-2 TTL: dormant user's open interval flushed closed at its last evidence; version restarts") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[ChangeEvent]
    val q = StreamOps.scd2Stream(in.toDS(), lateness = "1 minute", ttlHours = 1L)
      .writeStream.format("memory").queryName("scd2ttl")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(ChangeEvent(1, 10, "active", hts(0)), ChangeEvent(1, 11, "active", hts(1)))
      q.processAllAvailable()
      in.addData(ChangeEvent(99, 12, "x", hts(180))); q.processAllAvailable()
      in.addData(ChangeEvent(99, 13, "x", hts(181))); q.processAllAvailable()
      assert(stateRows(q) == 1L, s"user 1 must be flushed out: ${stateRows(q)}")
      val flushed = spark.sql(
        "SELECT version, status, n_events, valid_from, valid_to FROM scd2ttl WHERE user_id = 1")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
      assert(flushed == Seq((1L, "active", 2L, hts(0).getTime / 1000, hts(1).getTime / 1000)),
        s"dormancy flush closes the open interval at its LAST OBSERVED second, got $flushed")
      // re-admission: a fresh version-1 interval opens, and a status change
      // closes it normally — version restart is invisible to a consumer
      // keyed on (user_id, valid_from)
      in.addData(ChangeEvent(1, 14, "active", hts(240)), ChangeEvent(1, 15, "gone", hts(241)))
      q.processAllAvailable()
      val re = spark.sql(
        "SELECT version, status, valid_from FROM scd2ttl WHERE user_id = 1 AND valid_from >= " + hts(240).getTime / 1000)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(re == Seq((1L, "active", hts(240).getTime / 1000)),
        s"re-admitted key restarts at version 1, got $re")
    } finally q.stop()
  }

  test("transition TTL: a gap past the TTL emits no edge; the chain restarts clean") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[ChangeEvent]
    val q = StreamOps.transitionStream(in.toDS(), lateness = "1 minute", ttlHours = 1L)
      .writeStream.format("memory").queryName("transttl")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(ChangeEvent(1, 10, "a", hts(0)), ChangeEvent(1, 11, "b", hts(1)))
      q.processAllAvailable()
      in.addData(ChangeEvent(99, 12, "x", hts(180))); q.processAllAvailable()
      in.addData(ChangeEvent(99, 13, "y", hts(181))); q.processAllAvailable()
      assert(stateRows(q) == 1L, s"user 1 must be evicted: ${stateRows(q)}")
      // user 1 returns: first event opens a FRESH chain (no b→c edge —
      // a 3 h absence is a return visit, not a dwell), second event chains
      in.addData(ChangeEvent(1, 14, "c", hts(182)), ChangeEvent(1, 15, "d", hts(183)))
      q.processAllAvailable()
      val edges = spark.sql("SELECT from_type, to_type FROM transttl ORDER BY from_type")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(edges == Seq(("a", "b"), ("c", "d"), ("x", "y")),
        s"no cross-eviction edge may appear, got $edges")
    } finally q.stop()
  }

  test("TWS transition TTL: the engine expires idle state; the chain restarts clean") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // ProcessingTime mode keeps firing timer batches on an open query, so
    // drive TTL with two AvailableNow runs over ONE checkpoint: state
    // written in run 1, left idle past the TTL, read (expired) in run 2.
    // foreachBatch is the sink shape that supports checkpoint recovery.
    val ckpt = java.nio.file.Files.createTempDirectory("twsttl").toString
    val in = MemoryStream[ChangeEvent]
    val edges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // even Trigger.AvailableNow keeps scheduling timer micro-batches in
    // ProcessingTime mode, so wait for the expected emissions AND the
    // offset COMMIT (else a stop() races the commit and the next run
    // replays the batch), then stop the query explicitly
    def commits(): Int = {
      val d = new java.io.File(ckpt, "commits")
      if (d.exists()) d.listFiles().count(!_.getName.startsWith(".")) else 0
    }
    def runBatch(expected: Int): Unit = {
      val committed = commits()
      val q = StreamOps.transitionStreamTws(in.toDS(),
          ttl = java.time.Duration.ofSeconds(2))
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[Transition], _: Long) =>
          edges.synchronized {
            edges ++= ds.collect().map(t => (t.from_type, t.to_type))
          }: Unit
        }
        .start()
      try {
        val deadline = System.currentTimeMillis + 60000
        while ((edges.synchronized(edges.size) < expected ||
            commits() <= committed) && System.currentTimeMillis < deadline)
          Thread.sleep(100)
      } finally q.stop()
    }
    try {
      in.addData(ChangeEvent(1, 10, "a", hts(0)), ChangeEvent(1, 11, "b", hts(1)))
      runBatch(expected = 1)
      assert(edges.toSeq == Seq(("a", "b")), s"run 1 chains a→b, got $edges")
      // let the PROCESSING-time TTL lapse — TWS's native TTL dimension
      Thread.sleep(3000)
      in.addData(ChangeEvent(1, 12, "c", hts(2)), ChangeEvent(1, 13, "d", hts(3)))
      runBatch(expected = 2)
      assert(edges.toSeq == Seq(("a", "b"), ("c", "d")),
        s"expired state must not bridge b→c, got $edges")
    } finally {
      prior match { case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key) }
    }
  }

  test("TWS SCD-2 twin: closed intervals bit-identical to the batch rows on RocksDB state") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val evs = graft.Tables.events(spark, Sf)
      .filter(expr("user_id % 10 = 0"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .collect()
      .map(r => ChangeEvent(r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3)))
      .sortBy(e => (e.ts.getTime, e.event_id))
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val in = MemoryStream[ChangeEvent]
    val q = StreamOps.scd2StreamTws(in.toDS())
      .writeStream.format("memory").queryName("twsscd2")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT user_id, version, status, n_events, valid_from, valid_to FROM twsscd2")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      val batchClosed = graft.operators.Events.scd2(spark, Sf)
        .filter(col("valid_to").isNotNull)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      assert(streamed.nonEmpty && streamed == batchClosed,
        s"TWS SCD-2 stream/batch divergence (missing: ${(batchClosed -- streamed).take(3)}, " +
          s"extra: ${(streamed -- batchClosed).take(3)})")
    } finally {
      q.stop()
      prior match { case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key) }
    }
  }

  test("TWS SCD-2 timers: the event-time dormancy flush fires across a checkpointed restart") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files.createTempDirectory("twsscd2timer").toString
    val in = MemoryStream[ChangeEvent]
    // foreachBatch is at-least-once: a batch that ran but was not committed
    // when q.stop() landed re-runs under the same id on restart, so the sink
    // keeps each batch id's output once (the idempotent-sink contract)
    val byBatch = scala.collection.mutable.Map.empty[Long, Seq[(Long, Long, String, Long, Long, Long)]]
    def rows: Seq[(Long, Long, String, Long, Long, Long)] =
      byBatch.synchronized(byBatch.toSeq.sortBy(_._1).flatMap(_._2))
    def commits(): Int = {
      val d = new java.io.File(ckpt, "commits")
      if (d.exists()) d.listFiles().count(!_.getName.startsWith(".")) else 0
    }
    def runBatch(expected: Int): Unit = {
      val committed = commits()
      val q = StreamOps.scd2StreamTws(in.toDS(), lateness = "1 minute", ttlHours = 1L)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[Scd2Interval], batchId: Long) =>
          val out = ds.collect().map(i =>
            (i.user_id, i.version, i.status, i.n_events, i.valid_from, i.valid_to)).toSeq
          byBatch.synchronized(byBatch(batchId) = out)
        }
        .start()
      try {
        val deadline = System.currentTimeMillis + 60000
        while ((rows.size < expected ||
            commits() <= committed) && System.currentTimeMillis < deadline)
          Thread.sleep(100)
      } finally q.stop()
    }
    try {
      // run 1: user 1 active twice, timer armed at hts(1) + 1 h; shutdown
      // BEFORE the watermark reaches it — the armed timer must survive in
      // the checkpointed store
      in.addData(ChangeEvent(1, 10, "active", hts(0)), ChangeEvent(1, 11, "active", hts(1)))
      runBatch(expected = 0)
      assert(rows.isEmpty, s"no closed interval yet, got $rows")
      // run 2 (fresh query, same checkpoint): user 99 pushes the watermark
      // 3 h forward; the engine fires user 1's restored timer → dormancy
      // flush closed at the LAST OBSERVED second
      in.addData(ChangeEvent(99, 12, "x", hts(180)))
      runBatch(expected = 0)
      in.addData(ChangeEvent(99, 13, "x", hts(181)))
      runBatch(expected = 1)
      val flushed = rows.filter(_._1 == 1L).toList
      assert(flushed == List((1L, 1L, "active", 2L, hts(0).getTime / 1000, hts(1).getTime / 1000)),
        s"timer-driven flush must close user 1's interval at its last evidence, got $flushed")
    } finally {
      prior match { case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key) }
    }
  }

  // ── full-µs event-time arithmetic: a same-ms/different-µs pair whose id
  // order OPPOSES µs order must resolve by µs, exactly like the batch
  // (ts, event_id) window sort — getTime-only ordering flips these pairs.

  test("scd2Stream orders a same-ms/different-µs pair by µs, not event_id") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[ChangeEvent]
    val q = StreamOps.scd2Stream(in.toDS())
      .writeStream.format("memory").queryName("scd2us")
      .outputMode(OutputMode.Append()).start()
    try {
      // same millisecond (…10:00:00.001), sub-ms parts 500µs vs 900µs;
      // id order (1 before 2) OPPOSES µs order (A@.0015 before B@.0019)
      in.addData(
        ChangeEvent(1, 2, "A", Timestamp.valueOf("2024-01-01 10:00:00.0015")),
        ChangeEvent(1, 1, "B", Timestamp.valueOf("2024-01-01 10:00:00.0019")))
      q.processAllAvailable()
      val got = spark.sql("SELECT version, status FROM scd2us")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      // µs order: A arrives first, B's change closes it → closed v1 is A.
      // An ms sort would put B (smaller id) first and emit B instead.
      assert(got == Seq((1L, "A")), s"got $got")
    } finally q.stop()
  }

  test("ohlcStream argmin/argmax a same-ms/different-µs pair by µs, not event_id") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = StreamOps.ohlcStream(in.toDS())
      .writeStream.format("memory").queryName("ohlcus")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        Tick(2, Timestamp.valueOf("2024-01-01 10:00:00.0015"), 1.00),
        Tick(1, Timestamp.valueOf("2024-01-01 10:00:00.0019"), 2.00))
      q.processAllAvailable()
      val bar = spark.sql(
        "SELECT open_cents, close_cents FROM ohlcus ORDER BY hour_ts").collect().last
      // true µs: open = id 2 @ .0015 (100c), close = id 1 @ .0019 (200c);
      // ms-truncated "µs" ties both and the id tiebreak inverts the bar
      assert((bar.getLong(0), bar.getLong(1)) == (100L, 200L),
        s"got open=${bar.getLong(0)} close=${bar.getLong(1)}")
    } finally q.stop()
  }

  // ── finalized time-keyed state is evicted once the watermark passes the
  // cell's end: final emission equals the cell's last value, then the
  // store holds OPEN cells only.

  test("bitmapDistinctStream finalizes and evicts day cells behind the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.bitmapDistinctStream(in.toDS(), lateness = "1 hour")
      .writeStream.format("memory").queryName("bmevict")
      .outputMode(OutputMode.Append()).start()
    try {
      // day 1: three users (one duplicated) in one (day, click) cell
      in.addData(
        StreamEvent(1, "click", 0, hts(0)), StreamEvent(2, "click", 0, hts(1)),
        StreamEvent(3, "click", 0, hts(2)), StreamEvent(1, "click", 0, hts(3)))
      q.processAllAvailable()
      // two days later: watermark sails past day-1 end; the next batch
      // fires the timeout → final emission + cell dropped
      in.addData(StreamEvent(9, "view", 0, hts(2880))); q.processAllAvailable()
      in.addData(StreamEvent(9, "view", 0, hts(2881))); q.processAllAvailable()
      assert(stateRows(q) == 1L,
        s"only the open day-3 cell may remain, state has ${stateRows(q)} rows")
      val day1 = hts(0).getTime / 86400000L
      val finals = spark.sql(
        s"SELECT distinct_users FROM bmevict WHERE day = $day1 AND event_type = 'click'")
        .collect().map(_.getLong(0)).toSeq
      assert(finals.nonEmpty && finals.last == 3L,
        s"final emission must carry the exact day-1 count, got $finals")
    } finally q.stop()
  }

  test("ohlcStream finalizes and evicts hour cells behind the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Tick]
    val q = StreamOps.ohlcStream(in.toDS(), lateness = "10 minutes")
      .writeStream.format("memory").queryName("ohlcevict")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(Tick(1, hts(0), 1.00), Tick(2, hts(5), 3.00), Tick(3, hts(10), 2.00))
      q.processAllAvailable()
      in.addData(Tick(4, hts(300), 5.00)); q.processAllAvailable()
      in.addData(Tick(5, hts(301), 5.00)); q.processAllAvailable()
      assert(stateRows(q) == 1L,
        s"closed 10:00 hour must be dropped, state has ${stateRows(q)} rows")
      val hour1 = hts(0).getTime / 3600000L * 3600L
      val finals = spark.sql(
        s"SELECT n_trades, open_cents, high_cents, low_cents, close_cents, volume_cents " +
          s"FROM ohlcevict WHERE hour_ts = $hour1").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      assert(finals.last == ((3L, 100L, 300L, 100L, 200L, 600L)),
        s"final bar must equal the closed hour's last refresh, got ${finals.last}")
    } finally q.stop()
  }

  // ── streaming slide (SURVEY row 12): the overlapping-window form runs
  // the same native epoch-aligned window generator as the batch
  // ev_sliding_counts, so the two agree window-for-window.

  test("windowedCounts with slide matches batch ev_sliding_counts window-for-window") {
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_type"), col("value"), col("ts")).collect()
      .map(r => StreamEvent(r.getLong(0), r.getString(1), r.getDouble(2), r.getTimestamp(3)))
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.windowedCounts(in.toDF(), "1 hour", "1 hour", slide = "15 minutes")
      .writeStream.format("memory").queryName("slidewc")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(b1.toIndexedSeq); in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT unix_micros(window.start), event_type, n_events, sum_value FROM slidewc")
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      val batch = graft.operators.Events.slidingCounts(spark, Sf).collect()
        .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
      assert(streamed.keySet == batch.keySet,
        s"window coverage diverged: stream-only=${(streamed.keySet -- batch.keySet).take(3)} " +
          s"batch-only=${(batch.keySet -- streamed.keySet).take(3)}")
      batch.foreach { case (k, (n, revCents)) =>
        val (sn, sv) = streamed(k)
        assert(sn == n, s"window $k: stream n_events $sn != batch $n")
        // the batch row sums exact cents; the stream sums raw doubles —
        // agreement within a rounding cent per event
        assert(math.abs(sv * 100.0 - revCents) <= n.toDouble,
          s"window $k: stream value $sv vs batch cents $revCents")
      }
    } finally q.stop()
  }

  test("full ingest funnel: stateful tail adjudicates exact/neardup — label parity with docs_pipeline_full on a split feed") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val words = graft.operators.Dedup.bloomFilterWords(spark, Sf)
    val weights = graft.operators.Pipeline.dsirModelLocal(spark, Sf)
    // doc_id order = arrival order = the batch's min-id canonical rule
    val corpusRows = graft.operators.Pipeline.fullCorpus(spark, Sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val in = MemoryStream[(Long, String, String)]
    val q = StreamOps.ingestFunnelFullStream(
      in.toDF().toDF("doc_id", "source", "text"), words.toSeq, weights)
      .writeStream.format("memory").queryName("fullfunnel")
      .outputMode(OutputMode.Append()).start()
    try {
      // ProcessingTime-mode TWS never settles under processAllAvailable
      // (maintenance batches keep scheduling) — wait on the verdict-row
      // count instead: a doc's verdict and flag rows all emit in its own
      // arrival batch (the stateful chain is batch-synchronous)
      def waitForVerdicts(n: Int): Unit = {
        val deadline = System.currentTimeMillis + 120000
        while (spark.sql("SELECT count(*) FROM fullfunnel WHERE band = -1")
            .head().getLong(0) < n && System.currentTimeMillis < deadline)
          Thread.sleep(200)
      }
      // split mid-family: claims from batch 1 must adjudicate batch 2
      val (b1, b2) = corpusRows.splitAt(corpusRows.length / 2)
      in.addData(b1.toIndexedSeq); waitForVerdicts(b1.length)
      in.addData(b2.toIndexedSeq); waitForVerdicts(corpusRows.length)
      val rows = spark.sql("SELECT doc_id, stage, band FROM fullfunnel").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      // consumer reduction: any neardup flag row overrides the verdict row
      val flagged = rows.collect { case (id, "neardup", b) if b >= 0 => id }.toSet
      val verdicts = rows.collect { case (id, st, -1) => id -> st }.toMap
      val reduced = verdicts.map { case (id, st) =>
        id -> (if (flagged(id) && st != "quality" && st != "exact") "neardup" else st)
      }
      // DETERMINISTIC twin: the same staged projection in batch mode plus
      // a plain-Scala replay of both claim processors in arrival order —
      // stream labels must match it bit-for-bit
      val stagedB = StreamOps.funnelStagedDocs(
        graft.operators.Pipeline.fullCorpus(spark, Sf), words.toSeq, weights, 65536)
        .collect().sortBy(_.doc_id)
      val digestClaims = scala.collection.mutable.Map.empty[String, Long]
      val bandClaims = scala.collection.mutable.Map.empty[(Int, String), (Long, Seq[Long])]
      val replay = stagedB.map { d =>
        val afterExact =
          if (d.stage0 == "quality") d.stage0
          else if (digestClaims.getOrElseUpdate(d.digest, d.doc_id) == d.doc_id) d.stage0
          else "exact"
        val nd = afterExact != "quality" && afterExact != "exact" &&
          d.sig.nonEmpty && (0 until 8).exists { b =>
            val bkey = d.sig.slice(b * 4, b * 4 + 4).mkString(",")
            bandClaims.get((b, bkey)) match {
              case Some((cid, csig)) if cid != d.doc_id =>
                csig.zip(d.sig).count { case (x, y) => x == y } * 2 >= 32
              case Some(_) => false
              case None => bandClaims((b, bkey)) = (d.doc_id, d.sig); false
            }
          }
        d.doc_id -> (if (nd) "neardup" else afterExact)
      }.toMap
      assert(reduced == replay,
        s"stream vs claim-replay divergence: " +
          s"${replay.filter { case (id, st) => reduced.get(id) != Some(st) }.take(5)}")
      // contracts vs the batch docs_pipeline_full labels:
      val batch = graft.operators.Pipeline.pipelineFullStages(spark, Sf).collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(reduced.keySet == batch.keySet, "every corpus doc gets a verdict")
      // quality / exact / contam are deterministic in both engines — exact
      // parity; neardup is signature-ESTIMATED in-flight, so the contract
      // is directional: every batch near-dup is caught (the planted family
      // sits far above the threshold), and the only divergences are
      // estimator flips of borderline kept-pairs, bounded
      for (stg <- Seq("quality", "exact"))
        assert(batch.filter(_._2 == stg).forall { case (id, _) => reduced(id) == stg },
          s"$stg-stage divergence")
      val missed = batch.filter(_._2 == "neardup")
        .filter { case (id, _) => reduced(id) != "neardup" }
      assert(missed.isEmpty, s"batch near-dups missed in-flight: ${missed.take(5)}")
      val extra = reduced.filter { case (id, st) =>
        st == "neardup" && batch(id) != "neardup" }
      assert(extra.forall { case (id, _) => Set("kept", "contam")(batch(id)) } &&
        extra.size * 50 <= batch.size,
        s"estimator flips must be rare borderline survivors: ${extra.take(5)}")
      assert(batch.filter(_._2 == "contam").forall { case (id, _) =>
        reduced(id) == "contam" || extra.contains(id) }, "contam-stage divergence")
      // the planted families make every stage non-trivial
      Seq("quality", "exact", "neardup", "contam", "kept").foreach(stg =>
        assert(batch.values.exists(_ == stg), s"no $stg docs in corpus"))
    } finally {
      q.stop()
      prior match { case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key) }
    }
  }

  test("streaming ingest funnel: stateless stage labels match the batch funnel on a split feed") {
    implicit val sqlCtx = spark.sqlContext
    val words = graft.operators.Dedup.bloomFilterWords(spark, Sf)
    val weights = graft.operators.Pipeline.dsirModelLocal(spark, Sf)
    val corpusRows = graft.operators.Pipeline.fullCorpus(spark, Sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val in = MemoryStream[(Long, String, String)]
    val q = StreamOps.ingestFunnelStream(
      in.toDF().toDF("doc_id", "source", "text"), words.toSeq, weights)
      .writeStream.format("memory").queryName("funnel").start()
    try {
      val (b1, b2) = corpusRows.splitAt(corpusRows.length / 2)
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT doc_id, stage, dsir_score, clf_band FROM funnel").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
      val batch = graft.operators.Pipeline.pipelineFullStages(spark, Sf).collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(streamed.keySet == batch.keySet, "every corpus doc gets a verdict")
      // contract 1: any doc the batch funnel labels with a STATELESS stage
      // gets the same label in-flight
      val stateless = batch.filter { case (_, st) => Set("quality", "contam", "kept")(st) }
      val div = stateless.filter { case (id, st) => streamed(id)._1 != st }
      assert(div.isEmpty, s"stateless-stage divergence: ${div.take(5)}")
      // contract 2: batch exact/neardup docs (cross-document identity -
      // downstream dedup's job) pass through as kept-or-contam
      val stateful = batch.filter { case (_, st) => Set("exact", "neardup")(st) }
      assert(stateful.forall { case (id, _) =>
        Set("kept", "contam")(streamed(id)._1) }, "stateful-stage passthrough")
      // the planted families make every class non-trivial
      Seq("quality", "contam", "kept").foreach(stg =>
        assert(stateless.exists(_._2 == stg), s"no $stg docs in corpus"))
      assert(stateful.nonEmpty, "no planted duplicate survived to the dedup stages")
      // classifier band: independent plain-Scala recompute on 20 docs
      val md = java.security.MessageDigest.getInstance("MD5")
      def md5hex(x: String): String =
        md.digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      corpusRows.take(20).foreach { case (id, _, text) =>
        val toks = text.split(" ").toSeq
        val s = toks.map { t =>
          val bucket = java.lang.Long.parseLong(md5hex(t).substring(0, 8), 16) %
            graft.operators.Pipeline.ClassifierBuckets
          bucket * 2654435761L % 2048L
        }.sum
        val band = 10L * s / (2048L * toks.size)
        assert(streamed(id)._3 == band, s"doc $id clf band: ${streamed(id)._3} vs $band")
      }
    } finally q.stop()
  }

  test("TWS bitmap twin: final per-cell counts bit-identical to batch on RocksDB state") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val evs = graft.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .as[StreamEvent].collect().sortBy(_.ts.getTime)
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.bitmapDistinctStreamTws(in.toDS())
      .writeStream.format("memory").queryName("twsbmd")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      // idempotence probe: replayed events cannot double-count (bit_or)
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT day, event_type, max(distinct_users) FROM twsbmd GROUP BY 1, 2")
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = graft.operators.Events.bitmapDistinct(spark, Sf)
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(4)).toMap
      assert(streamed.nonEmpty && streamed == batch,
        s"TWS bitmap stream/batch divergence: ${streamed.size} vs ${batch.size} cells")
    } finally {
      q.stop()
      prior match { case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key) }
    }
  }

  test("TWS bitmap twin: finalized day cells evict and shrink the store") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.bitmapDistinctStreamTws(in.toDS(), lateness = "1 hour")
      .writeStream.format("memory").queryName("twsbmevict")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        StreamEvent(1, "click", 0, hts(0)), StreamEvent(2, "click", 0, hts(1)),
        StreamEvent(3, "click", 0, hts(2)), StreamEvent(1, "click", 0, hts(3)))
      q.processAllAvailable()
      // two days later: the view event's data batch holds BOTH cells (6
      // state rows: words+counts+armedAt each); the engine's follow-up
      // no-data batch advances the watermark past day-1 end and fires the
      // timer -> the cell's three state rows clear (6 -> 3), all within
      // one processAllAvailable
      in.addData(StreamEvent(9, "view", 0, hts(2880))); q.processAllAvailable()
      in.addData(StreamEvent(9, "view", 0, hts(2881))); q.processAllAvailable()
      val series = q.recentProgress.toSeq.map(_.stateOperators.map(_.numRowsTotal).sum)
        .filter(_ > 0)
      assert(series.max == 6 && series.last == 3,
        s"day-1 eviction must shrink the store 6 -> 3, got $series")
      val day1 = hts(0).getTime / 86400000L
      val finals = spark.sql(
        s"SELECT n_words, distinct_users FROM twsbmevict WHERE day = $day1 AND event_type = 'click'")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(finals.nonEmpty && finals.last == ((1L, 3L)),
        s"final emission must carry the exact day-1 census, got $finals")
    } finally {
      q.stop()
      prior match { case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key) }
    }
  }

  test("TWS bitmap timers: the eviction flush fires across a checkpointed restart") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files.createTempDirectory("twsbmtimer").toString
    val in = MemoryStream[StreamEvent]
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
    def commits(): Int = {
      val d = new java.io.File(ckpt, "commits")
      if (d.exists()) d.listFiles().count(!_.getName.startsWith(".")) else 0
    }
    def runBatch(expected: Int): Unit = {
      val committed = commits()
      val q = StreamOps.bitmapDistinctStreamTws(in.toDS(), lateness = "1 minute")
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[BitmapCell], _: Long) =>
          rows.synchronized {
            rows ++= ds.collect().map(c =>
              (c.day, c.event_type, c.n_words, c.distinct_users))
          }: Unit
        }
        .start()
      try {
        val deadline = System.currentTimeMillis + 60000
        while ((rows.synchronized(rows.size) < expected ||
            commits() <= committed) && System.currentTimeMillis < deadline)
          Thread.sleep(100)
      } finally q.stop()
    }
    try {
      // run 1: three users land in the day-1 click cell; the eviction
      // timer is armed at day end but the watermark never reaches it
      // before shutdown - the timer must survive in the checkpointed store
      in.addData(
        StreamEvent(1, "click", 0, hts(0)), StreamEvent(2, "click", 0, hts(1)),
        StreamEvent(1, "click", 0, hts(2)))
      runBatch(expected = 1) // the refreshed in-flight emission
      val day1 = hts(0).getTime / 86400000L
      // run 2 (fresh query, same checkpoint): a day-3 event pushes the
      // watermark past day-1 end; the engine fires the RESTORED timer
      in.addData(StreamEvent(9, "view", 0, hts(2880)))
      runBatch(expected = 2)
      in.addData(StreamEvent(9, "view", 0, hts(2881)))
      runBatch(expected = 4)
      val finals = rows.synchronized(rows.filter(r => r._1 == day1 && r._2 == "click").toList)
      assert(finals.last == ((day1, "click", 1L, 2L)),
        s"restored timer must flush the exact day-1 census, got $finals")
    } finally {
      prior match { case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key) }
    }
  }

  test("TWS OHLC twin: latest bar per hour bit-identical to batch on RocksDB state") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ticks = graft.Tables.events(spark, Sf)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts"), col("value")).collect()
      .map(r => Tick(r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
      .sortBy(_.ts.getTime)
    val (b1, b2) = ticks.splitAt(ticks.length / 2)
    val in = MemoryStream[Tick]
    val q = StreamOps.ohlcStreamTws(in.toDS())
      .writeStream.format("memory").queryName("twsohlc")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      // keep the fullest emission per hour (bars only grow within an hour)
      val streamed = spark.sql(
        "SELECT hour_ts, n_trades, open_cents, high_cents, low_cents, close_cents, volume_cents " +
          "FROM twsohlc").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))
        .groupBy(_._1).map { case (h, xs) => h -> xs.map(_._2).maxBy(_._1) }
      val batch = graft.operators.Events.ohlcHourly(spark, Sf).collect()
        .map(r => r.getTimestamp(0).getTime / 1000L ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
        .toMap
      assert(streamed.nonEmpty && streamed == batch,
        s"TWS OHLC stream/batch divergence: ${streamed.size} vs ${batch.size} hours")
    } finally {
      q.stop()
      prior match { case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key) }
    }
  }

  test("TWS OHLC twin: finalized hour bars evict and shrink the store") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[Tick]
    val q = StreamOps.ohlcStreamTws(in.toDS(), lateness = "1 minute")
      .writeStream.format("memory").queryName("twsohlcevict")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(Tick(1, hts(0), 10.0), Tick(2, hts(1), 12.5), Tick(3, hts(2), 9.0))
      q.processAllAvailable()
      // three hours later: a new bar opens; the engine's no-data batch
      // advances the watermark past hour-1 end and fires the timer —
      // the bar's two state rows clear (4 -> 2 within one call)
      in.addData(Tick(9, hts(180), 20.0)); q.processAllAvailable()
      in.addData(Tick(10, hts(181), 21.0)); q.processAllAvailable()
      val series = q.recentProgress.toSeq.map(_.stateOperators.map(_.numRowsTotal).sum)
        .filter(_ > 0)
      assert(series.max == 4 && series.last == 2,
        s"hour-1 eviction must shrink the store 4 -> 2, got $series")
      val h1 = hts(0).getTime / 3600000L * 3600L
      val finals = spark.sql(
        s"SELECT n_trades, open_cents, high_cents, low_cents, close_cents, volume_cents " +
          s"FROM twsohlcevict WHERE hour_ts = $h1").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      assert(finals.nonEmpty &&
        finals.last == ((3L, 1000L, 1250L, 900L, 900L, 3150L)),
        s"final bar must carry the exact hour-1 census, got ${finals.toSeq}")
    } finally {
      q.stop()
      prior match { case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key) }
    }
  }

  test("TWS OHLC timers: the finalize flush fires across a checkpointed restart") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files.createTempDirectory("twsohlctimer").toString
    val in = MemoryStream[Tick]
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    def commits(): Int = {
      val d = new java.io.File(ckpt, "commits")
      if (d.exists()) d.listFiles().count(!_.getName.startsWith(".")) else 0
    }
    def runBatch(expected: Int): Unit = {
      val committed = commits()
      val q = StreamOps.ohlcStreamTws(in.toDS(), lateness = "1 minute")
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[OhlcBar], _: Long) =>
          rows.synchronized {
            rows ++= ds.collect().map(b =>
              (b.hour_ts, b.n_trades, b.open_cents, b.close_cents))
          }: Unit
        }
        .start()
      try {
        val deadline = System.currentTimeMillis + 60000
        while ((rows.synchronized(rows.size) < expected ||
            commits() <= committed) && System.currentTimeMillis < deadline)
          Thread.sleep(100)
      } finally q.stop()
    }
    try {
      in.addData(Tick(1, hts(0), 10.0), Tick(2, hts(30), 15.0))
      runBatch(expected = 1) // refreshed in-flight bar; timer armed at hour end
      val h1 = hts(0).getTime / 3600000L * 3600L
      // fresh query, same checkpoint: a tick 3 h later pushes the
      // watermark past hour-1 end; the engine fires the RESTORED timer
      in.addData(Tick(9, hts(180), 20.0))
      runBatch(expected = 2)
      in.addData(Tick(10, hts(181), 21.0))
      runBatch(expected = 4)
      val finals = rows.synchronized(rows.filter(_._1 == h1).toList)
      assert(finals.last == ((h1, 2L, 1000L, 1500L)),
        s"restored timer must flush the exact hour-1 bar, got $finals")
    } finally {
      prior match { case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key) }
    }
  }

  test("TWS funnel twin: conversions bit-identical to the fMGWS twin on RocksDB state") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val evs = graft.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .as[StreamEvent].collect().sortBy(e => (e.ts.getTime, e.user_id))
    val (b1, b2) = evs.splitAt(evs.length / 2)
    def run(twin: org.apache.spark.sql.Dataset[StreamEvent] =>
        org.apache.spark.sql.Dataset[Conversion], name: String): Set[(Long, Long, Long, Long)] = {
      val in = MemoryStream[StreamEvent]
      val q = twin(in.toDS()).writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        in.addData(b1.toIndexedSeq); q.processAllAvailable()
        in.addData(b2.toIndexedSeq); q.processAllAvailable()
        spark.sql(s"SELECT user_id, first_step_ts, last_step_ts, duration_ms FROM $name")
          .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
            r.getTimestamp(2).getTime, r.getLong(3))).toSet
      } finally q.stop()
    }
    try {
      val tws = run(ds => StreamOps.funnelTws(ds), "twsfunl")
      val legacy = run(ds => StreamOps.funnel(ds), "legfunl")
      assert(tws.nonEmpty && tws == legacy,
        s"TWS/fMGWS funnel divergence (missing: ${(legacy -- tws).take(3)}, " +
          s"extra: ${(tws -- legacy).take(3)})")
    } finally {
      prior match { case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key) }
    }
  }

  test("TWS funnel TTL: dormancy eviction fires across a checkpointed restart") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files.createTempDirectory("twsfunttl").toString
    val in = MemoryStream[StreamEvent]
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def commits(): Int = {
      val d = new java.io.File(ckpt, "commits")
      if (d.exists()) d.listFiles().count(!_.getName.startsWith(".")) else 0
    }
    def runBatch(): Unit = {
      val committed = commits()
      val q = StreamOps.funnelTws(in.toDS(), lateness = "1 minute", ttlHours = 1L)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[Conversion], _: Long) =>
          rows.synchronized { rows ++= ds.collect().map(c =>
            (c.user_id, c.duration_ms)) }: Unit
        }
        .start()
      try {
        val deadline = System.currentTimeMillis + 60000
        while (commits() <= committed && System.currentTimeMillis < deadline)
          Thread.sleep(100)
        q.processAllAvailable()
      } finally q.stop()
    }
    try {
      // run 1: user 1 signs up and clicks, then the query SHUTS DOWN with
      // the dormancy timer armed in the checkpointed store
      in.addData(StreamEvent(1, "signup", 0, hts(0)), StreamEvent(1, "click", 0, hts(1)))
      runBatch()
      assert(rows.synchronized(rows.isEmpty))
      // run 2 (fresh query, same checkpoint): 3 h of watermark advance
      // fires the restored timer -> user 1's prefix is GONE; their
      // purchase alone must NOT convert (a fresh funnel starts at signup)
      in.addData(StreamEvent(99, "signup", 0, hts(180)))
      runBatch()
      in.addData(StreamEvent(99, "click", 0, hts(181)))
      runBatch()
      in.addData(StreamEvent(1, "purchase", 0, hts(182)))
      runBatch()
      assert(rows.synchronized(rows.isEmpty),
        s"evicted prefix must not bridge to a conversion, got ${rows.toList}")
      // the re-admitted user completes a FRESH funnel end-to-end
      in.addData(StreamEvent(1, "signup", 0, hts(183)), StreamEvent(1, "click", 0, hts(184)),
        StreamEvent(1, "purchase", 0, hts(185)))
      runBatch()
      assert(rows.synchronized(rows.toList) == List((1L, 120000L)),
        s"fresh funnel must convert once, got ${rows.toList}")
    } finally {
      prior match { case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key) }
    }
  }

  test("TWS ports: the remaining stateful ops match their fMGWS twins bit-for-bit on RocksDB") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val evRows = graft.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .as[StreamEvent].collect().toSeq.sortBy(e => StreamOps.usOf(e.ts))
    val (b1, b2) = evRows.splitAt(evRows.size / 2)
    def run[T](name: String, mode: OutputMode,
        build: org.apache.spark.sql.Dataset[StreamEvent] =>
          org.apache.spark.sql.Dataset[T]): Set[Seq[Any]] = {
      val in = MemoryStream[StreamEvent]
      val q = build(in.toDS()).toDF().writeStream.format("memory")
        .queryName(name).outputMode(mode).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        spark.table(name).collect().map(_.toSeq).toSet
      } finally q.stop()
    }
    try {
      val cases: Seq[(String,
          org.apache.spark.sql.Dataset[StreamEvent] => org.apache.spark.sql.DataFrame,
          org.apache.spark.sql.Dataset[StreamEvent] => org.apache.spark.sql.DataFrame,
          OutputMode)] = Seq(
        ("anom", ds => StreamOps.anomalies(ds).toDF(),
          ds => StreamOps.anomaliesTws(ds).toDF(), OutputMode.Append()),
        ("kmv", ds => StreamOps.distinctSketch(ds).toDF(),
          ds => StreamOps.distinctSketchTws(ds).toDF(), OutputMode.Update()),
        ("hll", ds => StreamOps.hllSketch(ds).toDF(),
          ds => StreamOps.hllSketchTws(ds).toDF(), OutputMode.Update()),
        ("qtl", ds => StreamOps.quantileSketch(ds).toDF(),
          ds => StreamOps.quantileSketchTws(ds).toDF(), OutputMode.Update()),
        ("cms", ds => StreamOps.countMinStream(ds).toDF(),
          ds => StreamOps.countMinStreamTws(ds).toDF(), OutputMode.Update()),
        ("late", ds => StreamOps.latenessMonitor(ds).toDF(),
          ds => StreamOps.latenessMonitorTws(ds).toDF(), OutputMode.Update()),
        ("ewma", ds => StreamOps.ewmaStream(ds).toDF(),
          ds => StreamOps.ewmaStreamTws(ds).toDF(), OutputMode.Append()),
        ("burst", ds => StreamOps.burstStream(ds).toDF(),
          ds => StreamOps.burstStreamTws(ds).toDF(), OutputMode.Append()))
      for ((name, legacyB, twsB, mode) <- cases) {
        val legacy = run(s"${name}leg", mode, legacyB)
        val tws = run(s"${name}tws", mode, twsB)
        assert(tws.nonEmpty && tws == legacy,
          s"$name TWS/fMGWS divergence (missing: ${(legacy -- tws).take(2)}, " +
            s"extra: ${(tws -- legacy).take(2)})")
      }
      // schemaInfer feeds JSON docs instead of StreamEvents
      def runDocs(name: String,
          build: org.apache.spark.sql.DataFrame =>
            org.apache.spark.sql.Dataset[KeyShapeProfile]): Set[Seq[Any]] = {
        val jsons = evRows.map { e =>
          val v = if (e.user_id % 3 == 0) s""""v${e.user_id}"""" else e.user_id.toString
          s"""{"user":$v,"t":"${e.event_type}"${if (e.user_id % 7 == 0) ",\"x\":null" else ""}}"""
        }
        val in = MemoryStream[String]
        val q = build(in.toDF().toDF("doc")).toDF().writeStream.format("memory")
          .queryName(name).outputMode(OutputMode.Update()).start()
        try {
          in.addData(jsons.take(jsons.size / 2): _*); q.processAllAvailable()
          in.addData(jsons.drop(jsons.size / 2): _*); q.processAllAvailable()
          spark.table(name).collect().map(_.toSeq).toSet
        } finally q.stop()
      }
      val sleg = runDocs("shapeleg", df => StreamOps.schemaInferStream(df))
      val stws = runDocs("shapetws", df => StreamOps.schemaInferStreamTws(df))
      assert(stws.nonEmpty && stws == sleg,
        s"schemaInfer TWS/fMGWS divergence: $stws vs $sleg")
    } finally {
      prior match { case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key) }
    }
  }

  test("TWS attribution: attributions match the fMGWS twin bit-for-bit on RocksDB") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val evs = graft.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .collect()
      .map(r => ChangeEvent(r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3)))
      .sortBy(e => (e.ts.getTime, e.event_id))
    val (b1, b2) = evs.splitAt(evs.length / 2)
    def run(name: String, f: org.apache.spark.sql.Dataset[ChangeEvent] =>
        org.apache.spark.sql.Dataset[Attribution]): Set[(Long, Long, String)] = {
      val in = MemoryStream[ChangeEvent]
      val q = f(in.toDS()).writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        in.addData(b1.toIndexedSeq); q.processAllAvailable()
        in.addData(b2.toIndexedSeq); q.processAllAvailable()
        spark.sql(s"SELECT user_id, event_id, channel FROM $name").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      } finally q.stop()
    }
    try {
      val legacy = run("attrleg", ds => StreamOps.attributionStream(ds))
      val tws = run("attrtws", ds => StreamOps.attributionStreamTws(ds))
      assert(tws.nonEmpty && tws == legacy,
        s"attribution TWS/fMGWS divergence (missing: ${(legacy -- tws).take(3)}, " +
          s"extra: ${(tws -- legacy).take(3)})")
    } finally {
      prior match { case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key) }
    }
  }

  test("TWS heavy hitters: profile matches the fMGWS twin bit-for-bit on RocksDB") {
    // bit-level MG state depends only on the per-batch fold order, which
    // both forms fix to (true-µs, user) — identical split feeds must give
    // identical profiles, not just identical guarantees
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val evRows = graft.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .as[StreamEvent].collect().toSeq
    val (b1, b2) = evRows.splitAt(evRows.size / 2)
    def run(name: String, f: org.apache.spark.sql.Dataset[StreamEvent] =>
        org.apache.spark.sql.Dataset[HeavyHittersProfile]): Map[String, (Long, Seq[Long], Seq[Long])] = {
      val in = MemoryStream[StreamEvent]
      val q = f(in.toDS()).writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update()).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        spark.sql(s"SELECT event_type, n_events, users, count_lower_bounds FROM $name")
          .collect().groupBy(_.getString(0))
          .map { case (t, rs) =>
            val r = rs.maxBy(_.getLong(1))
            t -> (r.getLong(1), r.getSeq[Long](2), r.getSeq[Long](3))
          }
      } finally q.stop()
    }
    try {
      val legacy = run("hhleg", ds => StreamOps.heavyHitters(ds))
      val tws = run("hhtws", ds => StreamOps.heavyHittersTws(ds))
      assert(tws.nonEmpty && tws == legacy,
        s"hh TWS/fMGWS divergence: $tws vs $legacy")
    } finally {
      prior match { case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key) }
    }
  }

  test("TWS CUSUM: final verdict matches the fMGWS twin and batch ev_changepoint") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val batchRows = graft.operators.Events.changepoint(spark, Sf).collect()
    val refs = batchRows.map(r => r.getString(0) -> r.getLong(2)).toMap
    val batch = batchRows
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    val evs = graft.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .as[StreamEvent].collect().toSeq
      .sortBy(_.ts.getTime)
    // split INSIDE the stream so an open hour spans the batch boundary
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val in = MemoryStream[StreamEvent]
    val q = StreamOps.cusumStreamTws(in.toDS(), refs)
      .writeStream.format("memory").queryName("cusumtws")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT event_type, n_hours, max_drift, drift_hour FROM cusumtws")
        .collect().groupBy(_.getString(0))
        .map { case (t, rows) => t -> {
          val r = rows.maxBy(_.getLong(1))
          (r.getLong(1), r.getLong(2), r.getLong(3))
        } }
      assert(streamed == batch,
        s"CUSUM TWS/batch divergence: $streamed vs $batch")
    } finally {
      q.stop()
      prior match { case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key) }
    }
  }

  test("TWS state evolution: V2 processor (added state field) resumes a V1 checkpoint under Avro encoding") {
    // The production upgrade path RocksDB users hit first: a deployed
    // processor's state class gains a field, and the new build must resume
    // the OLD checkpoint. Legal only under the Avro state encoding (set
    // before the checkpoint's first run — UnsafeRow pins the schema);
    // evolution fills the added Option field with None on V1-written rows.
    implicit val sqlCtx = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val encKey = "spark.sql.streaming.stateStore.encodingFormat"
    val priorProv = spark.conf.getOption(provKey)
    val priorEnc = spark.conf.getOption(encKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(encKey, "avro")
    val ckpt = java.nio.file.Files.createTempDirectory("twsevolve").toString
    val in = MemoryStream[ChangeEvent]
    try {
      // ── run 1: V1 processor writes LastEvent("b") for user 1 ──
      val v1Edges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val q1 = StreamOps.transitionStreamTws(in.toDS())
        .writeStream.option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[Transition], _: Long) =>
          v1Edges.synchronized {
            v1Edges ++= ds.collect().map(t => (t.from_type, t.to_type))
          }: Unit
        }
        .start()
      try {
        in.addData(ChangeEvent(1, 10, "a", hts(0)), ChangeEvent(1, 11, "b", hts(1)))
        q1.processAllAvailable()
      } finally q1.stop()
      assert(v1Edges.toSeq == Seq(("a", "b")), s"V1 run chains a→b, got $v1Edges")

      // ── run 2: V2 processor resumes the SAME checkpoint ──
      val v2Edges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
      val q2 = StreamOps.transitionStreamTwsV2(in.toDS())
        .writeStream.option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[TransitionV2], _: Long) =>
          v2Edges.synchronized {
            v2Edges ++= ds.collect()
              .map(t => (t.user_id, t.from_type, t.to_type, t.cum_edges))
          }: Unit
        }
        .start()
      try {
        // user 1's V1-written last event must chain (b→c) — proof the old
        // state is readable — with the evolved counter starting at 1;
        // a second event then increments it; user 2 is fresh post-upgrade
        in.addData(ChangeEvent(1, 12, "c", hts(2)), ChangeEvent(2, 13, "e", hts(2)))
        q2.processAllAvailable()
        in.addData(ChangeEvent(1, 14, "d", hts(3)), ChangeEvent(2, 15, "f", hts(3)))
        q2.processAllAvailable()
      } finally q2.stop()
      val got = v2Edges.synchronized(v2Edges.toSet)
      assert(got == Set(
        (1L, "b", "c", 1L), (1L, "c", "d", 2L),
        (2L, "e", "f", 1L)),
        s"V2 must read V1 state (b→c) and count forward, got $got")
    } finally {
      priorProv match { case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey) }
      priorEnc match { case Some(v) => spark.conf.set(encKey, v)
        case None => spark.conf.unset(encKey) }
    }
  }

  test("TWS initial state: batch snapshot warm-starts the transition monitor; no edge lost at cutover") {
    // The batch→streaming migration: history's per-user LAST event seeds
    // the store, the stream carries on from the cutover. Every edge whose
    // destination is post-cutover must appear — including the boundary
    // edge (batch-era from, streamed to) a cold start would drop.
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val evs = graft.Tables.events(spark, Sf)
      .filter(expr("user_id % 10 = 3"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .collect()
      .map(r => ChangeEvent(r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3)))
      .sortBy(e => (e.ts.getTime, e.event_id))
    val (hist, live) = evs.splitAt(evs.length / 2)
    def us(e: ChangeEvent): Long = StreamOps.usOf(e.ts)
    // snapshot: each user's final history event (max by the processor's
    // own (µs, event_id) order)
    val snapshot = hist.groupBy(_.user_id).map { case (u, es) =>
      val lastEv = es.maxBy(e => (us(e), e.event_id))
      UserLastEvent(u, lastEv.event_type, us(lastEv))
    }.toSeq
    // expected: every consecutive-pair edge over the FULL per-user
    // sequence whose destination event is post-cutover
    val liveIds = live.map(_.event_id).toSet
    val expected = evs.toSeq.groupBy(_.user_id).toSeq.flatMap { case (u, es) =>
      es.sortBy(e => (us(e), e.event_id)).sliding(2).collect {
        case Seq(a, b) if liveIds(b.event_id) =>
          (u, a.event_type, b.event_type, us(b) - us(a))
      }
    }.toSet
    val in = MemoryStream[ChangeEvent]
    val q = StreamOps.transitionStreamTwsWarm(in.toDS(),
        spark.createDataset(snapshot))
      .writeStream.format("memory").queryName("twswarm")
      .outputMode(OutputMode.Append()).start()
    try {
      val (l1, l2) = live.splitAt(live.length / 2)
      in.addData(l1.toIndexedSeq); q.processAllAvailable()
      in.addData(l2.toIndexedSeq); q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT user_id, from_type, to_type, gap_us FROM twswarm")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
      assert(streamed.nonEmpty && streamed == expected,
        s"warm-start cutover divergence (missing: ${(expected -- streamed).take(3)}, " +
          s"extra: ${(streamed -- expected).take(3)})")
    } finally {
      q.stop()
      prior match { case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key) }
    }
  }
}
