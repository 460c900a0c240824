package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.{GraftSession, SparkEntry, Tables}
import graft.sources.sse.{SseFrameLog, SseParser}
import graft.streaming.StreamOps

/** Benchmark harness: one workload per JVM, driven only through graft's
  * public entry points. Writes `result.json` (and `spans.jsonl` when
  * traced) into `--work`; the Python runner checks outputs and prints the
  * result line.
  *
  * Usage: graftbench.Harness --workload W --seed N --seconds S --trace 0|1
  *   --cpus C --work DIR [--setup-only 1] [workload options, see each
  *   workload]
  */
object Harness {
  final class Cfg(o: Map[String, String]) {
    def apply(k: String): String =
      o.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload: String = apply("workload")
    val seed: Long = apply("seed").toLong
    val seconds: Double = apply("seconds").toDouble
    val trace: Boolean = apply("trace") == "1"
    val cpus: Int = apply("cpus").toInt
    val work: String = apply("work")
    val setupOnly: Boolean = o.get("setup-only").contains("1")
  }

  /** Everything the run reports; serialised to result.json. */
  final class Out {
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val extra = mutable.LinkedHashMap.empty[String, Any]
    val notes = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    def note(s: String): Unit = { notes += s; System.err.println(s"[graftbench] $s") }
    def json: String = Json.obj(Seq("e2e" -> e2e, "layer" -> layer,
      "attempted" -> attempted, "failed" -> failed, "notes" -> notes) ++ extra.toSeq)
  }

  trait Workload {
    /** Work the program does before it can serve the first timed
      * operation, given a fresh session. */
    def prepare(spark: SparkSession): Unit
    def run(spark: SparkSession, sparkTrace: Option[SparkTrace]): Unit
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def medianOf(xs: Iterable[Double]): Double = pctl(xs, 50)

  /** Linear-interpolation percentile (numpy's default). 0 when empty. */
  def pctl(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  /** JVM heap still referenced after a full collection, in MiB. Spark's
    * ContextCleaner frees the blocks of collected RDDs asynchronously, so
    * this is the least reading over six collections 250 ms apart. */
  def retainedHeapMb(): Double = (1 to 6).map { _ =>
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    Thread.sleep(250)
    used
  }.min

  /** Geometric mean of positive values. 0 when empty. */
  def geomean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** Bytes this process has read through read(2) so far (`rchar`). */
  def rchar(): Long =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .find(_.startsWith("rchar:")).map(_.split(":")(1).trim.toLong).getOrElse(0L)

  def session(cfg: Cfg): SparkSession = {
    val spark = GraftSession.builder(cfg.cpus.toString)
      .appName(s"graftbench-${cfg.workload}")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val cfg = new Cfg(args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap)
    val tr = new Tracer(cfg.trace)
    val out = new Out
    val wl: Workload = cfg.workload match {
      case "sse_replay" => new ReplayWorkload(cfg, tr, out)
      case "train_pipeline" => new BatchWorkload(cfg, tr, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up: process start (the JVM's start time) to ready. A set-up-only
    // run stops here; the runner starts one before the measured run and
    // reports the median of the two readings.
    val spark = session(cfg)
    wl.prepare(spark)
    out.e2e("setup_s") =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    if (cfg.setupOnly) {
      Files.writeString(Paths.get(s"${cfg.work}/result.json"), out.json)
      spark.stop()
      return
    }
    val sparkTrace = if (cfg.trace) {
      val l = new SparkTrace
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    try wl.run(spark, sparkTrace)
    catch {
      case e: Throwable =>
        out.failed = math.max(out.failed, 1L)
        out.attempted = math.max(out.attempted, 1L)
        out.note(s"workload aborted: $e")
    }
    Files.writeString(Paths.get(s"${cfg.work}/result.json"), out.json)
    if (cfg.trace) tr.write(s"${cfg.work}/spans.jsonl")
    spark.stop()
  }

  /** Per-layer Spark execution metrics over the timed phase. `buildGroups`
    * are the job groups of build phases (their jobs count as operators);
    * every other job in the window counts as exec. */
  def sparkLayer(out: Out, tr: Tracer, st: SparkTrace, from: Double, to: Double,
      passes: Int, cpus: Int, buildGroups: Set[String],
      parentOf: SparkTrace#Job => Option[(Long, String)]): Map[Int, Long] = {
    st.settle()
    val jobs = st.jobList.filter(j => j.start >= from && j.end >= 0 && j.end <= to + 1)
    val stages = st.stageList.filter(s => s.submit >= from && s.done <= to + 1)
    val (bJobs, eJobs) = jobs.partition(j => buildGroups.contains(j.group))
    val (bStages, eStages) = stages.partition(s => buildGroups.contains(s.group))
    val n = passes.max(1).toDouble
    val mb = 1048576.0
    out.layer("operators.build_jobs") = bJobs.size / n
    out.layer("operators.build_tasks") = bStages.map(_.tasks).sum / n
    out.layer("exec.jobs") = eJobs.size / n
    out.layer("exec.stages") = eStages.size / n
    out.layer("exec.tasks") = eStages.map(_.tasks).sum / n
    out.layer("exec.shuffle_read_mb") = eStages.map(_.shuffleRead).sum / mb / n
    out.layer("exec.shuffle_write_mb") = eStages.map(_.shuffleWrite).sum / mb / n
    out.layer("exec.spill_mb") = eStages.map(_.spill).sum / mb / n
    out.layer("exec.run_s") = eStages.map(_.runMs).sum / 1000.0 / n
    out.layer("exec.cpu_s") = eStages.map(_.cpuNs).sum / 1e9 / n
    out.layer("exec.gc_s") = eStages.map(_.gcMs).sum / 1000.0 / n
    out.layer("exec.cpu_util") =
      stages.map(_.cpuNs).sum / 1e9 / (((to - from) / 1000.0) * cpus)
    out.layer("tables.scan_mb") = stages.map(_.input).sum / mb / n
    // job and stage spans under the phase (or micro-batch) that ran them
    val jobSpan = mutable.Map.empty[Int, (Long, String)]
    jobs.foreach { j =>
      parentOf(j).foreach { case (parent, layer) =>
        val id = tr.newId()
        jobSpan(j.id) = (id, layer)
        tr.record(id, parent, s"job:${j.id}", layer, j.start.toDouble, j.end.toDouble)
      }
    }
    stages.flatMap { s =>
      jobs.find(j => j.stageIds.contains(s.id) && jobSpan.contains(j.id)).map { j =>
        val (id, layer) = jobSpan(j.id)
        val sid = tr.newId()
        tr.record(sid, id, s"stage:${s.id}", layer, s.submit.toDouble, s.done.toDouble)
        s.id -> sid
      }
    }.toMap
  }

  /** Micro-batch metrics from StreamingQueryProgress (data batches only). */
  def streamLayer(out: Out, ps: Seq[StreamingQueryProgress]): Unit = {
    def med(k: String): Double = medianOf(ps.map(phaseMs(_, k)))
    out.layer("sse.latest_offset_ms") = med("latestOffset")
    out.layer("sse.latest_offset_s") = ps.map(phaseMs(_, "latestOffset")).sum / 1000.0
    out.layer("stream.get_batch_ms") = med("getBatch")
    out.layer("stream.query_planning_ms") = med("queryPlanning")
    out.layer("stream.add_batch_ms") = med("addBatch")
    out.layer("stream.wal_commit_ms") = med("walCommit")
    out.layer("stream.commit_offsets_ms") = med("commitOffsets")
    out.layer("stream.batches") = ps.size.toDouble
    out.layer("stream.rows_per_batch") = medianOf(ps.map(_.numInputRows.toDouble))
    val state = ps.flatMap(_.stateOperators.headOption)
    out.layer("state.rows_total") = state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
    out.layer("state.memory_mb") =
      state.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0)
    out.layer("state.commit_ms") = medianOf(state.map(_.commitTimeMs.toDouble))
  }

  def phaseMs(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)

  /** Spans of each micro-batch under `parent`: its progress phases laid end
    * to end from the trigger start, in the order the micro-batch loop runs
    * them. Returns the addBatch span id of each batch id. */
  def batchSpans(tr: Tracer, ps: Seq[StreamingQueryProgress], parent: Long): Map[Long, Long] = {
    val order = Seq("latestOffset" -> "sse", "queryPlanning" -> "stream",
      "getBatch" -> "sse", "addBatch" -> "stream", "walCommit" -> "stream",
      "commitOffsets" -> "stream")
    ps.map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val bid = tr.newId()
      tr.record(bid, parent, s"batch:${p.batchId}", "stream", start,
        start + phaseMs(p, "triggerExecution"))
      var t = start
      var addBatch = 0L
      order.foreach { case (k, layer) =>
        val id = tr.newId()
        tr.record(id, bid, k, layer, t, t + phaseMs(p, k))
        if (k == "addBatch") addBatch = id
        t += phaseMs(p, k)
      }
      p.batchId -> addBatch
    }.toMap
  }

  /** Streaming tasks per micro-batch (traced runs); a micro-batch is a
    * (run id, batch id) pair. */
  def tasksPerBatch(st: SparkTrace, from: Double, to: Double): Double = {
    val byBatch = st.stageList.filter(s => s.batch.nonEmpty && s.submit >= from && s.done <= to + 1)
      .groupBy(s => (s.group, s.batch)).map(_._2.map(_.tasks).sum.toDouble)
    medianOf(byBatch)
  }

  /** SseParser.feed and SseFrameLog.scan throughput over `files`, one
    * thread, median of three rounds, MB/s. */
  def parseScanMbps(out: Out, files: Seq[String]): Unit = {
    val texts = files.map(f => new String(Files.readAllBytes(Paths.get(f)), UTF_8))
    val bytes = files.map(f => new java.io.File(f).length()).sum / 1048576.0
    def rate(f: => Unit): Double = medianOf((1 to 3).map { _ =>
      val t0 = System.nanoTime(); f; bytes / secs(t0)
    })
    out.layer("sse.parse_mbps") = rate(texts.foreach(t => new SseParser().feed(t)))
    out.layer("sse.scan_mbps") = rate(files.foreach(f => SseFrameLog.scan(f, 0L, Long.MaxValue)))
  }

  def withGroup[T](spark: SparkSession, on: Boolean, id: Long)(f: => T): T =
    if (!on) f
    else {
      spark.sparkContext.setJobGroup(s"gb:$id", "graftbench")
      try f finally spark.sparkContext.clearJobGroup()
    }
}

import Harness._

/** Batch workloads: one closed-loop client running `--queries` through
  * SparkEntry.queries over the tables in `--data`. An untimed first pass
  * writes each result to `<work>/check/<query>` for the fingerprint check,
  * and `--warm-passes` untimed passes finish warming the JVM; timed passes
  * follow, each in a seeded order, until `--seconds` have passed (at least
  * three). */
final class BatchWorkload(cfg: Cfg, tr: Tracer, out: Out) extends Workload {
  private val queries = cfg("queries").split(",").toSeq
  private val data = cfg("data")
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def prepare(spark: SparkSession): Unit = tables.foreach(t => Tables(spark, data, t).schema)

  def run(spark: SparkSession, st: Option[SparkTrace]): Unit = {
    val rnd = new scala.util.Random(cfg.seed)
    val times = mutable.LinkedHashMap(queries.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val build = mutable.LinkedHashMap(queries.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val exec = mutable.LinkedHashMap(queries.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    tables.foreach(t => Tables(spark, data, t).write.format("noop").mode("overwrite").save())
    rnd.shuffle(queries).foreach { q =>
      out.attempted += 1
      val t0 = System.nanoTime()
      try SparkEntry.queries(q)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"${cfg.work}/check/$q")
      catch { case e: Throwable => out.failed += 1; out.note(s"$q (check pass) failed: $e") }
      times(q) += secs(t0)
    }
    // untimed warm-up passes: the passes after a cold start still run
    // partly interpreted, each faster than the one before
    (1 to cfg("warm-passes").toInt).foreach { _ =>
      rnd.shuffle(queries).foreach { q =>
        try SparkEntry.queries(q)(spark, data).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => out.note(s"$q (warm-up pass) failed: $e") }
      }
    }
    val traced = st.isDefined
    val buildGroups = mutable.Set.empty[String]
    val wid = tr.newId()
    val from = tr.now
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[Double]
    while (passes.size < 3 || secs(t0) < cfg.seconds) {
      val pid = tr.newId()
      val pStart = tr.now
      val p0 = System.nanoTime()
      rnd.shuffle(queries).foreach { q =>
        out.attempted += 1
        val qid = tr.newId()
        val qStart = tr.now
        val (bid, eid) = (tr.newId(), tr.newId())
        buildGroups += s"gb:$bid"
        try {
          val b0 = System.nanoTime()
          val df = withGroup(spark, traced, bid) {
            tr.span("build", "operators", qid, bid)(SparkEntry.queries(q)(spark, data))
          }
          val b1 = System.nanoTime()
          withGroup(spark, traced, eid) {
            tr.span("exec", "exec", qid, eid)(df.write.format("noop").mode("overwrite").save())
          }
          val b2 = System.nanoTime()
          build(q) += (b1 - b0) / 1e9
          exec(q) += (b2 - b1) / 1e9
          times(q) += (b2 - b0) / 1e9
        } catch { case e: Throwable => out.failed += 1; out.note(s"$q failed: $e") }
        tr.record(qid, pid, s"query:$q", "harness", qStart, tr.now)
      }
      passes += secs(p0)
      tr.record(pid, wid, s"pass:${passes.size}", "harness", pStart, tr.now)
    }
    val to = tr.now
    tr.record(wid, 0L, s"workload:${cfg.workload}", "harness", from, to)
    out.e2e("pass_s") = medianOf(passes)
    val samples = queries.flatMap(q => times(q).drop(1))
    out.e2e("op_geomean_ms") = geomean(queries.map(q => medianOf(times(q).drop(1)))) * 1000
    out.e2e("op_p90_ms") = pctl(samples, 90) * 1000
    out.e2e("retained_heap_mb") = retainedHeapMb()
    out.extra("passes") = passes.toSeq
    out.extra("query_times_s") = times.map { case (k, v) => k -> v.toSeq }
    st.foreach { s =>
      val n = passes.size.toDouble
      out.layer("operators.build_s") = build.values.map(_.sum).sum / n
      out.layer("exec.s") = exec.values.map(_.sum).sum / n
      queries.foreach { q =>
        out.layer(s"$q.build_s") = medianOf(build(q))
        out.layer(s"$q.exec_s") = medianOf(exec(q))
      }
      val spanOf = (j: SparkTrace#Job) =>
        if (j.group.startsWith("gb:")) {
          val id = j.group.stripPrefix("gb:").toLong
          Some(id -> (if (buildGroups.contains(j.group)) "operators" else "exec"))
        } else None
      sparkLayer(out, tr, s, from, to, passes.size, cfg.cpus, buildGroups.toSet, spanOf)
    }
  }
}

/** sse_replay: the log transport in a closed loop. Each timed replay is one
  * `Trigger.AvailableNow` query from a fresh checkpoint over every log in
  * `--logs` (`--max-events` per log per micro-batch): format("sse") →
  * StreamOps.projectPayload → StreamOps.windowedCounts → foreachBatch sink
  * holding the latest count per (window, type). Each replay's final table
  * goes to `<work>/replay-<k>.tsv` for the check. An untimed replay of the
  * same logs warms the JVM first; timed replays follow until `--seconds`
  * have passed. */
final class ReplayWorkload(cfg: Cfg, tr: Tracer, out: Out) extends Workload {
  private val logs = cfg("logs")
  private val cap = cfg("max-events")

  private def frames(spark: SparkSession, path: String): DataFrame =
    spark.readStream.format("sse").option("path", path)
      .option("maxEventsPerTrigger", cap).load()

  def prepare(spark: SparkSession): Unit = {
    frames(spark, logs).schema
    SseFrameLog.listLogs(logs)
  }

  private def replay(spark: SparkSession, path: String, ckpt: String)
      : (StreamingQuery, mutable.Map[(Long, String), (Long, Double)]) = {
    val sink = mutable.Map.empty[(Long, String), (Long, Double)]
    val events = StreamOps.projectPayload(frames(spark, path)).select(
      to_timestamp(col("dt"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("ts"),
      col("type").as("event_type"), col("delta").cast("double").as("value"))
    // a lateness wider than the whole log keeps every event, so the sink
    // can be compared with a batch recomputation over the logs
    val counts = StreamOps.windowedCounts(events, "1 hour", "3650 days")
    val write: (DataFrame, Long) => Unit = (df, _) =>
      df.select(unix_micros(col("window.start")), col("event_type"), col("n_events"),
        col("sum_value")).collect().foreach { r =>
        sink((r.getLong(0), r.getString(1))) = (r.getLong(2), r.getDouble(3))
      }
    val q = counts.writeStream.outputMode("update").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt).foreachBatch(write).start()
    (q, sink)
  }

  def run(spark: SparkSession, st: Option[SparkTrace]): Unit = {
    val (warm, _) = replay(spark, logs, s"${cfg.work}/ckpt-warm")
    warm.awaitTermination()
    val logFiles = SseFrameLog.listLogs(logs)
    val logBytes = logFiles.map(f => new java.io.File(f).length()).sum.toDouble
    val events = cfg("events").toLong
    val wid = tr.newId()
    val from = tr.now
    val t0 = System.nanoTime()
    val walls = mutable.ArrayBuffer.empty[Double]
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    var readBytes = 0L
    val addBatch = mutable.Map.empty[(String, String), Long]
    val runs = mutable.ArrayBuffer.empty[(String, Seq[StreamingQueryProgress])]
    while (walls.isEmpty || secs(t0) < cfg.seconds) {
      val k = walls.size + 1
      val sid = tr.newId()
      val sStart = tr.now
      val r0 = rchar()
      val q0 = System.nanoTime()
      val (q, sink) = replay(spark, logs, s"${cfg.work}/ckpt-$k")
      q.awaitTermination()
      walls += secs(q0)
      readBytes += rchar() - r0
      tr.record(sid, wid, s"stream:$k", "stream", sStart, tr.now)
      val ps = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      progress ++= ps
      runs += q.runId.toString -> ps
      batchSpans(tr, ps, sid).foreach { case (b, id) => addBatch((q.runId.toString, b.toString)) = id }
      out.attempted += events
      val sb = new StringBuilder
      sink.toSeq.sortBy(_._1).foreach { case ((w, t), (n, s)) =>
        sb.append(s"$w\t$t\t$n\t$s\n")
      }
      Files.writeString(Paths.get(s"${cfg.work}/replay-$k.tsv"), sb.toString)
    }
    val to = tr.now
    tr.record(wid, 0L, s"workload:${cfg.workload}", "harness", from, to)
    out.e2e("pass_s") = medianOf(walls)
    val batchMs = progress.map(_.durationMs.get("triggerExecution").toDouble)
    out.e2e("op_geomean_ms") = geomean(batchMs)
    out.e2e("op_p90_ms") = pctl(batchMs, 90)
    out.e2e("retained_heap_mb") = retainedHeapMb()
    out.extra("replays") = walls.size
    out.extra("replay_walls_s") = walls.toSeq
    st.foreach { s =>
      streamLayer(out, progress.toSeq)
      out.layer("stream.ingest_eps") = events / medianOf(walls)
      out.layer("sse.read_amplification") = readBytes / (logBytes * walls.size)
      out.layer("stream.tasks_per_batch") = tasksPerBatch(s, from, to)
      parseScanMbps(out, logFiles)
      // streaming jobs carry the run id as job group and the batch id
      val streamJobs = (j: SparkTrace#Job) => addBatch.get((j.group, j.batch)).map(_ -> "exec")
      val stageSpan = sparkLayer(out, tr, s, from, to, walls.size, cfg.cpus, Set.empty, streamJobs)
      // the state store commits at the end of the stateful stage's tasks;
      // progress reports the commit time summed over its partitions, so
      // the span takes that sum over the partitions committing in parallel
      val stages = s.stageList.groupBy(x => (x.group, x.batch))
      runs.foreach { case (runId, ps) =>
        ps.foreach { p =>
          for (op <- p.stateOperators.headOption;
               last <- stages.getOrElse((runId, p.batchId.toString), Nil).maxByOption(_.done);
               span <- stageSpan.get(last.id)) {
            val par = math.max(1, math.min(op.numShufflePartitions, cfg.cpus)).toDouble
            val len = math.min(op.commitTimeMs / par, (last.done - last.submit).toDouble)
            tr.record(tr.newId(), span, "stateCommit", "state", last.done - len, last.done)
          }
        }
      }
      out.layer("exec.s") = s.jobList.filter(j => j.start >= from && j.end >= 0 && j.end <= to + 1)
        .map(j => (j.end - j.start) / 1000.0).sum / walls.size
    }
  }
}

/** Prints SparkEntry.oracleSql for the named queries as one JSON object:
  * graftbench.OracleSql q1,q2,... */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    println(Json.obj(names.map(q => q -> SparkEntry.oracleSql(q))))
  }
}
