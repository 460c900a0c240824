package graft.sources.sse

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, forAllNoShrink}

import RefParser.refParse

/** Property-based checks of the pure SSE/stream kernels (ScalaCheck,
  * runs under `sbt test`). */
object SseParserProps extends Properties("SseParser") {

  private val nameGen: Gen[String] = Gen.alphaNumStr.suchThat(_.nonEmpty)
  private val idGen: Gen[Option[String]] =
    Gen.option(Gen.alphaNumStr.suchThat(s => s.nonEmpty))
  // data may be multi-line (LF only); CR is a line terminator on the wire
  private val dataGen: Gen[String] =
    Gen.listOf(Gen.alphaNumStr).map(_.mkString("\n"))
  // ... and may hold supplementary characters (surrogate pairs in a String)
  private val wideDataGen: Gen[String] =
    Gen.listOf(Gen.listOf(Gen.oneOf("a", "7", "\u00e9", "\ud83d\ude00", "\ud835\udc9c")).map(_.mkString))
      .map(_.mkString("\n"))

  private def eventGen(data: Gen[String]): Gen[(String, Option[String], String)] =
    for { n <- nameGen; i <- idGen; d <- data } yield (n, i, d)

  private def lines(evs: List[(String, Option[String], String)]): List[String] =
    evs.flatMap { case (n, i, d) =>
      (s"event: $n" :: i.map(v => s"id: $v").toList) ++ d.split("\n", -1).map(l => s"data: $l") :+ ""
    }

  private def serialize(evs: List[(String, Option[String], String)]): String =
    lines(evs).map(_ + "\n").mkString

  /** Expected parse: ids persist across events (last-event-id semantics). */
  private def expected(evs: List[(String, Option[String], String)]): List[SseEvent] =
    evs.foldLeft((List.empty[SseEvent], Option.empty[String])) {
      case ((acc, lastId), (n, i, d)) =>
        val id = i.orElse(lastId)
        (acc :+ SseEvent(Some(n), id, d), id)
    }._1

  property("serialize → parse roundtrips with id persistence") =
    forAll(Gen.listOf(eventGen(dataGen))) { evs =>
      SseParser.parseAll(serialize(evs)) == expected(evs)
    }

  /** Cuts at a random point and at one of each edge a chunk can split:
    * inside a surrogate pair, between CR and LF, and after a lone leading
    * BOM. */
  property("parsing is chunk-boundary invariant") =
    // no shrinking: a shrunk String may split a surrogate pair
    forAllNoShrink(Gen.resize(30, Gen.nonEmptyListOf(eventGen(wideDataGen))), Gen.oneOf("", "\uFEFF"),
      Gen.long, Gen.chooseNum(0, 1000)) { (evs, bom, termSeed, seed) =>
      val rnd = new scala.util.Random(termSeed)
      val text = bom + lines(evs).map(_ + Seq("\n", "\r", "\r\n")(rnd.nextInt(3))).mkString
      def one(edge: Int => Boolean): Seq[Int] = {
        val at = (1 until text.length).filter(edge)
        if (at.isEmpty) Nil else Seq(at(seed % at.size))
      }
      val cuts = (seed % (text.length + 1)) +: (one(i => text(i - 1).isHighSurrogate) ++
        one(i => text(i - 1) == '\r' && text(i) == '\n') ++ one(i => i == 1 && text(0) == '\uFEFF'))
      val ref = new RefParser
      val expect = ref.feed(text)
      Prop.all(cuts.map { cut =>
        val p = new SseParser
        val out = p.feed(text.substring(0, cut)) ++ p.feed(text.substring(cut))
        Prop(out == expect && p.atEof == ref.atEof) :| s"cut=$cut"
      }: _*)
    }
}

/** Generated frame logs for the scan and reader properties, as bytes. */
private object SseLogs {
  private val nameGen: Gen[String] = Gen.alphaNumStr.suchThat(_.nonEmpty)
  private val fieldLine: Gen[String] = Gen.oneOf(
    nameGen.map(n => s"event: $n"),
    Gen.alphaNumStr.map(i => s"id: $i"),
    Gen.alphaNumStr.map(d => s"data: $d"),
    Gen.chooseNum(1, 99999).map(r => s"retry: $r"),
    Gen.alphaNumStr.map(c => s": $c"), // comment
    Gen.alphaNumStr.map(x => s"unknownfield: $x"))
  val frameGen: Gen[String] =
    Gen.nonEmptyListOf(fieldLine).map(_.mkString("", "\n", "\n\n"))

  /** Private-use characters that [[encode]] writes as invalid UTF-8: a byte
    * UTF-8 never uses, a truncated 2-byte and 4-byte sequence, a UTF-16
    * surrogate, an overlong NUL and half a BOM. */
  private val invalid: Map[Char, Array[Byte]] = Map(
    '\ue000' -> Seq(0xff), '\ue001' -> Seq(0xc3), '\ue002' -> Seq(0xed, 0xa0, 0x80),
    '\ue003' -> Seq(0xc0, 0x80), '\ue004' -> Seq(0xf0, 0x9f, 0x98), '\ue005' -> Seq(0xef, 0xbb))
    .map { case (c, bs) => c -> bs.map(_.toByte).toArray }

  def encode(s: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    val run = new StringBuilder
    def flush(): Unit = { out.write(run.toString.getBytes(UTF_8)); run.clear() }
    s.foreach(c => invalid.get(c) match {
      case Some(bytes) => flush(); out.write(bytes)
      case None => run.append(c)
    })
    flush()
    out.toByteArray
  }

  // Logs that put every edge of the byte grammar in play: LF, CR and CRLF
  // terminators (a CR followed by an LF-terminated blank line reads as one
  // CRLF, like on the wire), multi-byte and invalid UTF-8, NUL and U+FEFF in
  // values, U+FEFF at line starts, a BOM at byte 0, comments, valid,
  // invalid and overflowing retry values, and fields with no colon.
  private val valueGen: Gen[String] =
    Gen.listOf(Gen.oneOf("a", "7", " ", ":", "\u00e9", "\u20ac", "\ud83d\ude00", "\u0000",
      "\uFEFF", "\ue000", "\ue001", "\ue002", "\ue003", "\ue004", "\ue005")).map(_.mkString)
  private val richLine: Gen[String] = Gen.oneOf(
    valueGen.map("id: " + _), valueGen.map("id:" + _), Gen.const("id"),
    valueGen.map("data: " + _), Gen.const("data"), valueGen.map("event: " + _),
    Gen.chooseNum(0, 99999).map(r => s"retry: $r"), valueGen.map("retry:" + _),
    Gen.oneOf("retry: 99999999999999999999", "retry: \u0661"),
    valueGen.map(":" + _), valueGen.map("x" + _), valueGen.map("\uFEFFdata: " + _))
  private val term: Gen[String] = Gen.oneOf("\n", "\r", "\r\n")
  private val richFrame: Gen[String] = for {
    lines <- Gen.nonEmptyListOf(Gen.zip(richLine, term))
    end <- term
  } yield lines.map { case (l, t) => l + t }.mkString + end
  val richLog: Gen[Array[Byte]] = for {
    bom <- Gen.oneOf("", "\uFEFF")
    frames <- Gen.nonEmptyListOf(richFrame)
  } yield encode(bom + frames.mkString)
  // read buffers small enough that every edge case lands on a buffer edge
  val bufGen: Gen[Int] = Gen.chooseNum(1, 8)

  def withLog[T](bytes: Array[Byte])(body: String => T): T = {
    val f = Files.createTempFile("sselog", ".sselog")
    try { Files.write(f, bytes); body(f.toString) } finally Files.deleteIfExists(f)
  }

  /** Rows of one partition through the streaming reader, normalized. */
  def readRows(path: String, start: SseFrameLog.ScanResult, end: Long,
      buf: Int): Seq[(String, Option[String], String)] = {
    val r = SseReaderFactory.reader(
      SseInputPartition(path, start.boundary, end, start.lastId, start.retryMs), buf)
    try Iterator.continually(r.next()).takeWhile(identity).map { _ =>
      val row = r.get()
      (row.getUTF8String(0).toString, Option(row.getUTF8String(1)).map(_.toString),
        row.getUTF8String(2).toString)
    }.toList
    finally r.close()
  }

  val Zero: SseFrameLog.ScanResult = SseFrameLog.ScanResult(0L, None, None)
}

object SseScanProps extends Properties("SseFrameLog.scan") {
  import SseLogs._

  /** For any frame stream and any admission cap, the scan's carried
    * id/retry must equal the reference parser's state after feeding
    * exactly the scanned region. */
  property("cursor state equals parser state at every admission boundary") =
    forAll(Gen.nonEmptyListOf(frameGen), Gen.chooseNum(0L, 20L)) { (frames, cap) =>
      val bytes = frames.mkString.getBytes(UTF_8)
      withLog(bytes) { f =>
        val r = SseFrameLog.scan(f, 0L, math.max(cap, 1L))
        val p = new RefParser
        val events = p.feed(new String(bytes, 0, r.boundary.toInt, UTF_8))
        val capOk = events.size <= math.max(cap, 1L)
        Prop(p.lastEventId == r.lastId && p.serverRetryMs == r.retryMs && capOk) :|
          s"scan=(${r.lastId},${r.retryMs}) parser=(${p.lastEventId},${p.serverRetryMs}) events=${events.size}"
      }
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
        val p = new RefParser
        val events = p.feed(new String(bytes, 0, r.boundary.toInt, UTF_8))
        val total = refParse(new String(bytes, UTF_8)).size
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

object SseReaderProps extends Properties("SseReaderFactory") {
  import SseLogs._

  /** Partitions cut at random frame boundaries (`scan` under a random
    * `maxPos`, which may stop between a frame's CR and LF), each seeded
    * from the scan's carry-state, read the rows of one whole-log partition,
    * and those are the reference parse of the log. */
  property("reader rows over frame-aligned cuts concatenate to the one-partition rows and refParse") =
    forAll(richLog, Gen.listOf(Gen.chooseNum(0, 100000)), bufGen) { (bytes, cutSeeds, buf) =>
      withLog(bytes) { f =>
        val full = SseFrameLog.scan(f, 0L, Long.MaxValue)
        val cuts = (cutSeeds.map(c => SseFrameLog.scan(f, 0L, Long.MaxValue, (c % (bytes.length + 1)).toLong)) :+ full)
          .distinct.sortBy(_.boundary)
        val pieces = (Zero +: cuts).zip(cuts).flatMap { case (from, to) => readRows(f, from, to.boundary, buf) }
        val whole = readRows(f, Zero, full.boundary, buf)
        val ref = refParse(new String(bytes, 0, full.boundary.toInt, UTF_8)).map(SseParser.normalize)
        (Prop(pieces == whole) :| s"cuts at ${cuts.map(_.boundary)}: $pieces != $whole") &&
          (Prop(whole == ref) :| s"reader $whole != reference $ref")
      }
    }

  property("reader rows do not depend on the window size") =
    forAll(richLog, bufGen) { (bytes, buf) =>
      withLog(bytes) { f =>
        val end = bytes.length.toLong
        Prop(readRows(f, Zero, end, buf) == readRows(f, Zero, end, SseFrameLog.WindowBytes))
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
