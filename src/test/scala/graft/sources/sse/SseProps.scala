package graft.sources.sse

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property-based checks of the pure SSE/stream kernels (ScalaCheck,
  * runs under `sbt test`). */
object SseParserProps extends Properties("SseParser") {

  private val nameGen: Gen[String] = Gen.alphaNumStr.suchThat(_.nonEmpty)
  private val idGen: Gen[Option[String]] =
    Gen.option(Gen.alphaNumStr.suchThat(s => s.nonEmpty))
  // data may be multi-line (LF only); CR is a line terminator on the wire
  private val dataGen: Gen[String] =
    Gen.listOf(Gen.alphaNumStr).map(_.mkString("\n"))

  private val eventGen: Gen[(String, Option[String], String)] =
    for { n <- nameGen; i <- idGen; d <- dataGen } yield (n, i, d)

  private def serialize(evs: List[(String, Option[String], String)]): String =
    evs.map { case (n, i, d) =>
      s"event: $n\n" +
        i.map(v => s"id: $v\n").getOrElse("") +
        d.split("\n", -1).map(l => s"data: $l\n").mkString +
        "\n"
    }.mkString

  /** Expected parse: ids persist across events (last-event-id semantics). */
  private def expected(evs: List[(String, Option[String], String)]): List[SseEvent] =
    evs.foldLeft((List.empty[SseEvent], Option.empty[String])) {
      case ((acc, lastId), (n, i, d)) =>
        val id = i.orElse(lastId)
        (acc :+ SseEvent(Some(n), id, d), id)
    }._1

  property("serialize → parse roundtrips with id persistence") =
    forAll(Gen.listOf(eventGen)) { evs =>
      SseParser.parseAll(serialize(evs)) == expected(evs)
    }

  property("parsing is chunk-boundary invariant") =
    forAll(Gen.nonEmptyListOf(eventGen), Gen.chooseNum(0, 1000)) { (evs, seed) =>
      val text = serialize(evs)
      val cut = seed % math.max(text.length, 1)
      val p = new SseParser
      val out = p.feed(text.substring(0, cut)) ++ p.feed(text.substring(cut))
      Prop(out == SseParser.parseAll(text)) :| s"cut=$cut"
    }
}

object SseScanProps extends Properties("SseFrameLog.scan") {
  import java.nio.charset.StandardCharsets
  import java.nio.file.Files

  private val nameGen: Gen[String] = Gen.alphaNumStr.suchThat(_.nonEmpty)
  private val fieldLine: Gen[String] = Gen.oneOf(
    nameGen.map(n => s"event: $n"),
    Gen.alphaNumStr.map(i => s"id: $i"),
    Gen.alphaNumStr.map(d => s"data: $d"),
    Gen.chooseNum(1, 99999).map(r => s"retry: $r"),
    Gen.alphaNumStr.map(c => s": $c"), // comment
    Gen.alphaNumStr.map(x => s"unknownfield: $x"))
  private val frameGen: Gen[String] =
    Gen.nonEmptyListOf(fieldLine).map(_.mkString("", "\n", "\n\n"))

  /** The offset scanner and the incremental parser implement the WHATWG
    * field grammar twice (byte walk vs incremental feed). This property
    * pins them together: for any frame stream and any admission cap, the
    * scan's carried id/retry must equal the parser state after feeding
    * exactly the scanned region. */
  property("cursor state equals parser state at every admission boundary") =
    forAll(Gen.nonEmptyListOf(frameGen), Gen.chooseNum(0L, 20L)) { (frames, cap) =>
      val text = frames.mkString
      val f = Files.createTempFile("scanprop", ".sselog")
      try {
        Files.write(f, text.getBytes(StandardCharsets.UTF_8))
        val r = SseFrameLog.scan(f.toString, 0L, math.max(cap, 1L))
        val region = new String(
          java.util.Arrays.copyOfRange(
            Files.readAllBytes(f), 0, r.boundary.toInt),
          StandardCharsets.UTF_8)
        val p = new SseParser
        val events = p.feed(region)
        val capOk = events.size <= math.max(cap, 1L)
        Prop(p.lastEventId == r.lastId && p.serverRetryMs == r.retryMs && capOk) :|
          s"scan=(${r.lastId},${r.retryMs}) parser=(${p.lastEventId},${p.serverRetryMs}) events=${events.size}"
      } finally Files.deleteIfExists(f)
    }

  // Logs that put every edge of the byte scanner in play: LF, CR and CRLF
  // terminators (a CR followed by an LF-terminated blank line reads as one
  // CRLF, like on the wire), multi-byte UTF-8 and NUL in values, comments,
  // valid and invalid retry values, and fields with no colon.
  private val valueGen: Gen[String] =
    Gen.listOf(Gen.oneOf("a", "7", " ", ":", "\u00e9", "\u20ac", "\ud83d\ude00", "\u0000"))
      .map(_.mkString)
  private val richLine: Gen[String] = Gen.oneOf(
    valueGen.map("id: " + _), valueGen.map("id:" + _), Gen.const("id"),
    valueGen.map("data: " + _), Gen.const("data"), valueGen.map("event: " + _),
    Gen.chooseNum(0, 99999).map(r => s"retry: $r"), valueGen.map("retry:" + _),
    valueGen.map(":" + _), valueGen.map("x" + _))
  private val term: Gen[String] = Gen.oneOf("\n", "\r", "\r\n")
  private val richFrame: Gen[String] = for {
    lines <- Gen.nonEmptyListOf(Gen.zip(richLine, term))
    end <- term
  } yield lines.map { case (l, t) => l + t }.mkString + end
  private val richLog: Gen[Array[Byte]] =
    Gen.nonEmptyListOf(richFrame).map(_.mkString.getBytes(StandardCharsets.UTF_8))
  // read buffers small enough that every edge case lands on a buffer edge
  private val bufGen: Gen[Int] = Gen.chooseNum(1, 8)

  private def withLog[T](bytes: Array[Byte])(body: String => T): T = {
    val f = Files.createTempFile("scanprop", ".sselog")
    try { Files.write(f, bytes); body(f.toString) } finally Files.deleteIfExists(f)
  }

  /** Scan on from `prev`'s boundary, inheriting its carry-state where the
    * new region sets none (how the stream merges cursors). */
  private def extend(path: String, prev: SseFrameLog.ScanResult, cap: Long,
      buf: Int): SseFrameLog.ScanResult = {
    val r = SseFrameLog.scan(path, prev.boundary, cap, Long.MaxValue, buf)
    SseFrameLog.ScanResult(r.boundary, r.lastId.orElse(prev.lastId), r.retryMs.orElse(prev.retryMs))
  }

  property("byte scan agrees with the parser on mixed terminators and UTF-8") =
    forAll(richLog, Gen.chooseNum(1L, 20L), bufGen) { (bytes, cap, buf) =>
      withLog(bytes) { f =>
        val r = SseFrameLog.scan(f, 0L, cap, Long.MaxValue, buf)
        val p = new SseParser
        val events = p.feed(new String(bytes, 0, r.boundary.toInt, StandardCharsets.UTF_8))
        val total = SseParser.parseAll(new String(bytes, StandardCharsets.UTF_8)).size
        // the boundary is a real dispatch point: nothing pending, and it
        // admits exactly min(cap, all) events
        Prop(p.lastEventId == r.lastId && p.serverRetryMs == r.retryMs && p.atEof &&
          events.size == math.min(cap, total.toLong)) :|
          s"scan=$r parser=(${p.lastEventId},${p.serverRetryMs}) events=${events.size}/$total"
      }
    }

  property("a scan resumed at any earlier boundary with its carry-state equals the scan from 0") =
    forAll(richLog, Gen.chooseNum(1L, 5L), bufGen) { (bytes, cap, buf) =>
      withLog(bytes) { f =>
        val full = SseFrameLog.scan(f, 0L, Long.MaxValue)
        // walk the boundaries a cap-limited micro-batch sequence stops at
        var at = SseFrameLog.ScanResult(0L, None, None)
        var ok = Prop.passed
        var moved = true
        while (moved) {
          val resumed = extend(f, at, Long.MaxValue, buf)
          ok = ok && (Prop(resumed == full) :| s"from ${at.boundary}: $resumed != $full")
          val next = extend(f, at, cap, buf)
          moved = next.boundary > at.boundary
          at = next
        }
        ok && (Prop(at == full) :| s"batches end at $at, not $full")
      }
    }

  property("the end-of-log memo extended over appends equals a fresh scan from 0") =
    forAll(richLog, Gen.listOf(Gen.chooseNum(0, 100000)), bufGen) { (bytes, cutSeeds, buf) =>
      import scala.jdk.CollectionConverters._
      val dir = Files.createTempDirectory("scanmemo")
      val f = dir.resolve("p0.sselog")
      try {
        // appends cut anywhere: mid-frame, mid-line, mid-CRLF, mid-character
        val cuts = (cutSeeds.map(_ % (bytes.length + 1)) :+ bytes.length).distinct.sorted
        val stream = new SseMicroBatchStream(SseConfig.fromOptions(Map("path" -> dir.toString).asJava))
        var memo = SseFrameLog.ScanResult(0L, None, None)
        var written = 0
        cuts.map { cut =>
          Files.write(f, java.util.Arrays.copyOfRange(bytes, written, cut),
            java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
          written = cut
          val fresh = SseFrameLog.scan(f.toString, 0L, Long.MaxValue)
          memo = extend(f.toString, memo, Long.MaxValue, buf)
          val reported = stream.reportLatestOffset().asInstanceOf[SseOffset].cursors
          (Prop(memo == fresh) :| s"at $cut: memo $memo != fresh $fresh") &&
            (Prop(reported == Map(f.toString -> LogCursor(fresh.boundary, fresh.lastId, fresh.retryMs))) :|
              s"at $cut: stream reported $reported, fresh $fresh")
        }.foldLeft(Prop.passed)(_ && _)
      } finally { Files.deleteIfExists(f); Files.deleteIfExists(dir) }
    }

  property("scan results do not depend on the buffer size") =
    forAll(richLog, Gen.chooseNum(0L, 20L), Gen.chooseNum(0, 100000), Gen.chooseNum(0, 100000)) {
      (bytes, cap, s0, m0) =>
        withLog(bytes) { f =>
          val start = (s0 % (bytes.length + 1)).toLong
          val maxPos = if (m0 % 4 == 0) Long.MaxValue else (m0 % (bytes.length + 1)).toLong
          val results = Seq(1, 2, 3, 5, 8, 64 * 1024)
            .map(b => SseFrameLog.scan(f, start, cap, maxPos, b))
          Prop(results.distinct.size == 1) :| s"start=$start maxPos=$maxPos: $results"
        }
    }
}

object RollingHashProps extends Properties("RollingHash") {
  import graft.functions.RollingHash

  private def model(s: String): Long = {
    val cps = s.codePoints().toArray
    cps.foldLeft(BigInt(0))((acc, cp) => (acc * RollingHash.B + cp) mod BigInt(RollingHash.P)).toLong
  }

  property("matches the BigInt fold model (incl. unicode)") =
    forAll { (s: String) => RollingHash.compute(s) == model(s) }

  property("stays in [0, P)") =
    forAll { (s: String) =>
      val h = RollingHash.compute(s)
      h >= 0 && h < RollingHash.P
    }
}

object BackoffProps extends Properties("Backoff") {
  private val cfg: Gen[Backoff] = for {
    init <- Gen.chooseNum(1L, 10000L)
    max <- Gen.chooseNum(init, 100000L)
    attempts <- Gen.chooseNum(-1, 50)
  } yield Backoff(init, max, attempts)

  property("delays are nondecreasing and within [initial, max]") =
    forAll(cfg, Gen.chooseNum(0, 100)) { (b, n) =>
      val delays = (0 to n).map(b.delayMs)
      delays.zip(delays.tail).forall { case (a, c) => a <= c } &&
        delays.forall(d => d >= math.min(b.initialMs, b.maxMs) && d <= b.maxMs)
    }

  property("negative maxAttempts retries forever; bounded stops exactly") =
    forAll(cfg, Gen.chooseNum(0, 1000)) { (b, attempt) =>
      if (b.maxAttempts < 0) b.shouldRetry(attempt)
      else b.shouldRetry(attempt) == (attempt < b.maxAttempts)
    }
}
