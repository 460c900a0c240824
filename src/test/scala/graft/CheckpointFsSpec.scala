package graft

import java.nio.file.{Files, Path => JPath, StandardOpenOption}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.StreamOps
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.fs.ChecksumException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming checkpoints under [[GraftSession.LocalFsConf]]: the same
  * checkpoint as under Hadoop's stock `LocalFs` (either resumes the other's),
  * checksums verified on restart and no process launched per micro-batch
  * commit. */
class CheckpointFsSpec extends SparkSpec {
  private val (fsKey, nioFs) = GraftSession.LocalFsConf
  private val stockFs = classOf[org.apache.hadoop.fs.local.LocalFs].getName

  private type Sink = mutable.Map[(Long, String), (Long, Double)]

  // 600 events over 6 hourly windows and 3 types, in shuffled time order so
  // every window straddles any split of the log
  private val events: Seq[(String, Long, Int)] = {
    val rnd = new scala.util.Random(7)
    rnd.shuffle((0 until 600).map(i =>
      (Seq("edit", "log", "new")(i % 3), 1704067200L + rnd.nextInt(6 * 3600), i % 10)))
  }

  private def frames(evs: Seq[(String, Long, Int)]): String = evs.map { case (t, sec, v) =>
    val ts = java.time.Instant.ofEpochSecond(sec).toString.replace("T", " ").stripSuffix("Z")
    s"""event: change\ndata: {"event_type":"$t","ts":"$ts","value":$v}\n\n"""
  }.mkString

  private def expected(evs: Seq[(String, Long, Int)]): Map[(Long, String), (Long, Double)] =
    evs.groupBy { case (t, sec, _) => (sec / 3600 * 3600 * 1000000L, t) }
      .map { case (k, g) => k -> (g.size.toLong, g.map(_._3.toDouble).sum) }

  private def tmpDir(prefix: String): JPath = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit(); p
  }

  /** One AvailableNow pass of format("sse") → StreamOps.windowedCounts under
    * the given `file:` AbstractFileSystem, 50 events per micro-batch, the
    * latest count per (window, type) kept in `sink`; returns its batches. */
  private def run(impl: String, log: JPath, cp: JPath, sink: Sink): Int = {
    spark.conf.set(fsKey, impl)
    try {
      val evs = spark.readStream.format("sse").option("path", log.toString)
        .option("maxEventsPerTrigger", "50").load()
        .select(
          get_json_object(col("data"), "$.event_type").as("event_type"),
          get_json_object(col("data"), "$.ts").cast("timestamp").as("ts"),
          get_json_object(col("data"), "$.value").cast("double").as("value"))
      val write: (DataFrame, Long) => Unit = (df, _) =>
        df.select(unix_micros(col("window.start")), col("event_type"), col("n_events"),
          col("sum_value")).collect().foreach { r =>
          sink((r.getLong(0), r.getString(1))) = (r.getLong(2), r.getDouble(3))
        }
      val q = StreamOps.windowedCounts(evs, "1 hour", "3650 days")
        .writeStream.outputMode("update").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", cp.toString).foreachBatch(write).start()
      q.awaitTermination(120000)
      q.exception.foreach(e => throw e)
      q.recentProgress.count(_.numInputRows > 0)
    } finally spark.conf.unset(fsKey)
  }

  /** Relative path and POSIX permissions of every file under `cp`. */
  private def layout(cp: JPath): Seq[(String, String)] =
    Files.walk(cp).iterator().asScala.filter(_ != cp).map { p =>
      cp.relativize(p).toString -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toSeq.sorted

  test("a checkpoint written under either local file system resumes under the other") {
    val (first, second) = events.splitAt(250)
    val whole = tmpDir("graft-ckpt-whole")
    Files.writeString(whole.resolve("stream.log"), frames(events))
    val uninterrupted: Sink = mutable.Map.empty
    run(nioFs, whole.resolve("stream.log"), whole.resolve("cp"), uninterrupted)
    assert(uninterrupted.toMap == expected(events))

    for ((before, after) <- Seq(stockFs -> nioFs, nioFs -> stockFs)) {
      val dir = tmpDir("graft-ckpt-resume")
      val log = dir.resolve("stream.log")
      val sink: Sink = mutable.Map.empty
      Files.writeString(log, frames(first))
      assert(run(before, log, dir.resolve("cp"), sink) == 5)
      Files.writeString(log, frames(second), StandardOpenOption.APPEND)
      assert(run(after, log, dir.resolve("cp"), sink) == 7)
      assert(sink == uninterrupted, s"$before -> $after")
    }
  }

  test("both local file systems write the same checkpoint files with the same permissions") {
    val Seq(stock, nio) = Seq(stockFs, nioFs).map { impl =>
      val dir = tmpDir("graft-ckpt-layout")
      Files.writeString(dir.resolve("stream.log"), frames(events))
      run(impl, dir.resolve("stream.log"), dir.resolve("cp"), mutable.Map.empty)
      layout(dir.resolve("cp"))
    }
    // Hadoop .crc sidecars and Spark's state-store checksum files included
    val names = stock.map(_._1).toSet
    assert(Set("offsets/.0.crc", "state/0/0/1.delta.crc", "state/0/0/.1.delta.crc.crc").subsetOf(names))
    assert(nio == stock)
  }

  test("a corrupted offsets file fails the restart with a checksum error") {
    val dir = tmpDir("graft-ckpt-corrupt")
    val (log, cp) = (dir.resolve("stream.log"), dir.resolve("cp"))
    Files.writeString(log, frames(events))
    assert(run(nioFs, log, cp, mutable.Map.empty) == 12)
    // flip the last digit of batchTimestampMs in the latest offsets file; its
    // .crc sidecar still holds the old checksum
    val latest = Files.list(cp.resolve("offsets")).iterator().asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    val text = Files.readString(latest)
    val i = "\"batchTimestampMs\":\\d+".r.findFirstMatchIn(text).get.end - 1
    Files.writeString(latest, text.updated(i, if (text(i) == '9') '0' else (text(i) + 1).toChar))
    val e = intercept[Exception](run(nioFs, log, cp, mutable.Map.empty))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ChecksumException]), e)
  }

  test("checkpointed micro-batches start no process") {
    val dir = tmpDir("graft-ckpt-jfr")
    val log = dir.resolve("stream.log")
    Files.writeString(log, frames(events))
    // warm-up outside the recording: one-time class initialisation
    run(nioFs, log, dir.resolve("cp-warm"), mutable.Map.empty)

    val commands = new ConcurrentLinkedQueue[String]()
    val flushes = new AtomicInteger()
    val rec = new RecordingStream()
    try {
      rec.enable("jdk.ProcessStart")
      rec.onEvent("jdk.ProcessStart", e => commands.add(e.getString("command")))
      rec.onFlush(() => flushes.incrementAndGet())
      rec.startAsync()
      assert(run(nioFs, log, dir.resolve("cp"), mutable.Map.empty) == 12)
      // two flushes after the query stopped deliver every event it recorded
      val target = flushes.get() + 2
      val deadline = System.nanoTime() + 30000000000L
      while (flushes.get() < target && System.nanoTime() < deadline) Thread.sleep(50)
      assert(flushes.get() >= target, "JFR stream did not flush")
    } finally rec.close()
    // only commands on this test's files: the shared test JVM may run other
    // sessions' state-store maintenance at the same time
    val ours = commands.asScala.filter(_.contains(dir.getFileName.toString)).toSeq
    assert(ours.isEmpty, s"${ours.size} process starts, e.g. ${ours.take(3).mkString("; ")}")
  }
}
