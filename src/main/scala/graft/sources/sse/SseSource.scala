package graft.sources.sse

import java.io.RandomAccessFile
import java.nio.charset.StandardCharsets
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `format("sse")` — a DataSource v2 source with the semantics of the
  * reference connector (cjmatta/kafka-connect-sse), re-expressed as a
  * Structured Streaming micro-batch source.
  *
  * Transports:
  *  - `log` (default): replay an append-only SSE frame-log file or directory
  *    of logs. Offsets are frame-aligned byte cursors per log.
  *  - `live`: an [[SseClient]] (lifecycle, backoff, rate limiting, health
  *    checks) pumps an [[SseEndpoint]] and spools raw frames into `path`;
  *    the same cursor mechanics then give replayable, checkpointable offsets
  *    over a non-replayable upstream — the durable-buffer role the
  *    reference's BlockingQueue plays (ServerSentEventClient.java:160).
  *
  * Offsets carry, per log: the byte position (always frame-aligned, so a
  * batch [start, end) parses to exactly the events dispatched in it), plus
  * the WHATWG parser carry-state at that position — last-event-id and
  * server `retry:` — so an id-less frame at the start of batch N+1 inherits
  * the id from the last id-bearing frame of batch N, exactly as a continuous
  * parse would (reference holds one connection and inherits ids across
  * events, ServerSentEventClient.java:538).
  *
  * At scale the frame log is a partitioned topic (one log per partition);
  * each log is one input partition with an independent cursor.
  */
class SseDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "sse"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = SseTable.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SseTable(SseConfig.fromOptions(properties))
}

object SseTable {
  /** The reference record schema (reference ServerSentEvent.java:29-34):
    * event required, id optional, data required. */
  val Schema: StructType = StructType(Seq(
    StructField("event", StringType, nullable = false),
    StructField("id", StringType, nullable = true),
    StructField("data", StringType, nullable = false)))
}

class SseTable(config: SseConfig) extends Table with SupportsRead {
  override def name(): String = s"sse(${config.path})"
  override def schema(): StructType = SseTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new SseScan(config)
    }
}

class SseScan(config: SseConfig) extends Scan {
  override def readSchema(): StructType = SseTable.Schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new SseMicroBatchStream(config)
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      SseFrameLog.listLogs(config.path)
        .map(f => SseInputPartition(f, 0L, new java.io.File(f).length(), None, None,
          config.eventsFilter, config.eventsFilterPattern))
        .toArray
    override def createReaderFactory(): PartitionReaderFactory = SseReaderFactory
  }
}

/** Per-log stream cursor: frame-aligned byte position plus the WHATWG
  * parser carry-state (last-event-id, server retry) at that position. */
case class LogCursor(pos: Long, lastId: Option[String], retryMs: Option[Long])

object LogCursor {
  val Zero: LogCursor = LogCursor(0L, None, None)
}

/** Offset = one [[LogCursor]] per log file. `path` may be one file or a
  * directory of logs (one per upstream partition); each advances
  * independently, so a batch is planned as one input partition per log and
  * scales with the number of logs. */
case class SseOffset(cursors: Map[String, LogCursor]) extends Offset {
  override def json(): String = SseOffset.toJson(cursors)
}

object SseOffset {
  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString }
  private def unesc(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) i += 1
      b.append(s.charAt(i)); i += 1
    }
    b.toString
  }

  /** Cursor value encoding inside the JSON string: `pos|retry|idTag` where
    * retry is empty for None and idTag is `-` (no id) or `i` + id. The id
    * goes last because it may itself contain `|`. */
  private def encode(c: LogCursor): String =
    s"${c.pos}|${c.retryMs.map(_.toString).getOrElse("")}|${c.lastId.map("i" + _).getOrElse("-")}"
  private def decode(v: String): LogCursor = {
    val p1 = v.indexOf('|')
    if (p1 < 0) return LogCursor(v.toLong, None, None) // pre-cursor numeric form
    val p2 = v.indexOf('|', p1 + 1)
    val pos = v.substring(0, p1).toLong
    val retry = v.substring(p1 + 1, p2) match { case "" => None; case r => Some(r.toLong) }
    val id = v.substring(p2 + 1) match {
      case "-" => None
      case tagged => Some(tagged.substring(1))
    }
    LogCursor(pos, id, retry)
  }

  def toJson(m: Map[String, LogCursor]): String =
    m.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(encode(v))}"""" }
      .mkString("{", ",", "}")

  /** Minimal parser for the flat {"path":"cursor",...} shape above (also
    * accepts the round-1 numeric positions for old checkpoints). */
  def fromJson(s: String): SseOffset = {
    val body = s.trim.stripPrefix("{").stripSuffix("}")
    if (body.isEmpty) return SseOffset(Map.empty)
    val entries = scala.collection.mutable.Map.empty[String, LogCursor]
    var i = 0
    def readString(): String = {
      assert(body.charAt(i) == '"', s"bad offset json: $s")
      val b = new StringBuilder
      i += 1
      while (body.charAt(i) != '"') {
        if (body.charAt(i) == '\\') { b.append(body.charAt(i)); i += 1 }
        b.append(body.charAt(i)); i += 1
      }
      i += 1 // closing quote
      unesc(b.toString)
    }
    while (i < body.length) {
      val key = readString()
      i += 1 // colon
      val cursor =
        if (body.charAt(i) == '"') decode(readString())
        else { // legacy numeric position
          val num = new StringBuilder
          while (i < body.length && body.charAt(i) != ',') { num.append(body.charAt(i)); i += 1 }
          LogCursor(num.toString.toLong, None, None)
        }
      if (i < body.length && body.charAt(i) == ',') i += 1
      entries(key) = cursor
    }
    SseOffset(entries.toMap)
  }
}

class SseMicroBatchStream(config: SseConfig)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow
    with ReportsSourceMetrics {

  /** Driver-side live ingest, started on first use when transport=live. */
  private lazy val liveIngest: Option[SseLiveIngest] =
    if (config.transport == "live") Some(SseLiveIngest.start(config)) else None

  /** End-of-data snapshot for Trigger.AvailableNow (frame-aligned). */
  @volatile private var availableNowEnd: Option[Map[String, LogCursor]] = None

  override def initialOffset(): Offset = { liveIngest; SseOffset(Map.empty) }
  override def deserializeOffset(json: String): Offset = SseOffset.fromJson(json)

  override def getDefaultReadLimit: ReadLimit =
    config.maxEventsPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  private def scanAll(from: Map[String, LogCursor], capPerLog: Long,
      maxPos: Map[String, Long]): Map[String, LogCursor] =
    SseFrameLog.listLogs(config.path).map { f =>
      val start = from.getOrElse(f, LogCursor.Zero)
      val r = SseFrameLog.scan(f, start.pos, capPerLog,
        maxPos.getOrElse(f, Long.MaxValue))
      // parser carry-state: whatever this batch saw, else inherited
      f -> LogCursor(r.boundary,
        r.lastId.orElse(start.lastId), r.retryMs.orElse(start.retryMs))
    }.toMap

  /** Last end-of-data cursor per log: a frame boundary, not the file length,
    * so a frame still being appended is rescanned whole by the next call. */
  private var endOfLogs = Map.empty[String, LogCursor]

  /** Extends [[endOfLogs]] over the bytes appended since the last call. A log
    * shorter than its cursor (rotated, truncated) restarts from 0. */
  private def scanToEnd(): Map[String, LogCursor] = synchronized {
    val valid = endOfLogs.filter { case (f, c) => new java.io.File(f).length() >= c.pos }
    endOfLogs = scanAll(valid, Long.MaxValue, Map.empty)
    endOfLogs
  }

  override def prepareForTriggerAvailableNow(): Unit = {
    liveIngest
    availableNowEnd = Some(scanToEnd())
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  /** Admission control: each log advances to the frame boundary after at
    * most `maxRows` dispatched events past its own offset (and never past
    * the AvailableNow snapshot). New logs appearing mid-stream are picked
    * up at position 0. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    liveIngest
    val from = start.asInstanceOf[SseOffset].cursors
    val cap = limit match {
      case r: ReadMaxRows => r.maxRows()
      case _ => Long.MaxValue
    }
    val ceiling = availableNowEnd.fold(Map.empty[String, Long])(_.map {
      case (f, c) => f -> c.pos
    })
    SseOffset(scanAll(from, cap, ceiling))
  }

  override def reportLatestOffset(): Offset = SseOffset(scanToEnd())

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[SseOffset].cursors
    val to = end.asInstanceOf[SseOffset].cursors
    to.toSeq.sortBy(_._1).flatMap { case (f, endCur) =>
      val startCur = from.getOrElse(f, LogCursor.Zero)
      if (endCur.pos > startCur.pos)
        Some(SseInputPartition(f, startCur.pos, endCur.pos,
          startCur.lastId, startCur.retryMs,
          config.eventsFilter, config.eventsFilterPattern))
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = SseReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = liveIngest.foreach(_.stop())

  /** The reference's queryable metrics endpoint (IMPROVEMENT_PLAN.md Phase 1
    * Step 4 "health/status reporting mechanism"), Spark-natively: custom
    * source metrics reported into every `StreamingQueryProgress.sources[i]
    * .metrics` map, so an operator queries connection health from
    * `query.lastProgress` / the listener bus / the progress JSON log — no
    * side-channel needed. Log-transport runs report the spool plane
    * (logs tracked, bytes committed vs available); live runs additionally
    * aggregate [[SseClient.getMetrics]] totals across endpoint clients —
    * the counter surface of reference ServerSentEventClient.java:764-803. */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset]): java.util.Map[String, String] = {
    val m = new java.util.LinkedHashMap[String, String]()
    val logs = SseFrameLog.listLogs(config.path)
    m.put("numLogs", logs.size.toString)
    m.put("availableBytes", logs.map(f => new java.io.File(f).length()).sum.toString)
    Option(latestConsumedOffset.orElse(null)).foreach { o =>
      // the engine may hand back the checkpointed form (SerializedOffset),
      // not the typed one — decode via the same JSON round-trip
      val cursors = o match {
        case s: SseOffset => s.cursors
        case other => SseOffset.fromJson(other.json()).cursors
      }
      m.put("consumedBytes", cursors.values.map(_.pos).sum.toString)
    }
    liveIngest.foreach { li =>
      val cm = li.clients.map(_.getMetrics)
      def total(k: String): Long = cm.map(_.getOrElse(k, 0L) match {
        case l: Long => l; case i: Int => i.toLong; case _ => 0L
      }).sum
      m.put("connection.states", li.clients.map(_.getMetrics("connection.state")).mkString(","))
      m.put("connection.attempts", total("connection.attempts").toString)
      m.put("connection.successful", total("connection.successful").toString)
      m.put("connection.failed", total("connection.failed").toString)
      m.put("connection.reconnections", total("connection.reconnections").toString)
      m.put("events.total", total("events.total").toString)
      m.put("events.bytes", total("events.bytes").toString)
      m.put("queue.maxSize", total("queue.maxSize").toString)
    }
    m
  }
}

/** A batch slice of one log, plus the parser carry-state at `start` and
  * the source's event-name admission filter (allowlist + regex — reference
  * IMPROVEMENT_PLAN.md Phase 2 Step 7). The filter rides the partition so
  * executors enforce it without re-reading driver config. Offset arithmetic
  * deliberately counts WIRE frames, not admitted events: cursors stay
  * byte-positions in the log, so changing the filter between runs (or
  * resuming a checkpoint with a new allowlist) can never shift a frame
  * boundary or break replay. */
case class SseInputPartition(path: String, start: Long, end: Long,
    seedId: Option[String], seedRetry: Option[Long],
    allow: Option[Set[String]] = None,
    allowPattern: Option[String] = None) extends InputPartition {
  /** Same predicate as [[SseConfig.admitsEvent]], over the partition-carried
    * copy of the filter options. */
  def admits(name: String): Boolean =
    (allow.isEmpty && allowPattern.isEmpty) ||
      allow.exists(_.contains(name)) || allowPattern.exists(p => name.matches(p))
}

object SseReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SseInputPartition]
    new PartitionReader[InternalRow] {
      private val events = new SseParser().seed(p.seedId, p.seedRetry)
        .feed(SseFrameLog.read(p.path, p.start, p.end)).iterator
        .filter(e => p.admits(SseParser.normalize(e)._1))
      private var current: SseEvent = _
      override def next(): Boolean = { val has = events.hasNext; if (has) current = events.next(); has }
      override def get(): InternalRow = {
        // reference null-handling (ServerSentEventsSourceTask.java:114-117)
        val (ev, id, data) = SseParser.normalize(current)
        InternalRow(UTF8String.fromString(ev),
          id.map(UTF8String.fromString).orNull, UTF8String.fromString(data))
      }
      override def close(): Unit = ()
    }
  }
}

/** Driver-side live ingest: one [[SseClient]] per configured endpoint,
  * each pumping in a background thread and spooling raw stream text to its
  * own append-only log in `config.path`. The cursor/partition mechanics
  * treat the spools exactly like any other frame-log directory — one input
  * partition per upstream endpoint, each with an independent checkpointed
  * cursor — so the live source scales with the number of upstream
  * partitions the same way the log transport does. The durable-buffer
  * pattern for a non-replayable upstream. */
final class SseLiveIngest(ingests: Seq[(SseClient, java.io.Writer)]) {
  def clients: Seq[SseClient] = ingests.map(_._1)
  def stop(): Unit = ingests.foreach { case (client, writer) =>
    client.stopBackground()
    writer.close()
  }
}

object SseLiveIngest {
  def start(config: SseConfig): SseLiveIngest = {
    val dir = new java.io.File(config.path)
    dir.mkdirs()
    // endpoint.ref (in-process registry) wins; else sse.uri gets the real
    // HTTP transport — the reference's configuration surface. Both accept a
    // comma-separated list: one upstream partition per entry.
    def split(s: String): Seq[String] =
      s.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val endpoints: Seq[SseEndpoint] = config.endpointRef
      .map(refs => split(refs).map(SseEndpoints.lookup))
      .orElse(config.sseUri.map(uris =>
        split(uris).map(new HttpSseEndpoint(_, proxy = config.proxy,
          sslContext = config.sslContext,
          skipHostnameVerify = config.httpsInsecureSkipVerify))))
      .getOrElse(throw new IllegalArgumentException(
        "transport=live requires 'endpoint.ref' or 'sse.uri'"))
    val ingests = endpoints.zipWithIndex.map { case (endpoint, i) =>
      val spool = new java.io.File(dir, f"live-$i%04d.sselog")
      // restart continuity: resume from the last id already spooled, so a
      // resume-aware upstream doesn't replay events a previous run
      // ingested; a half-written trailing frame from a crashed run is
      // truncated to the last committed boundary (checkpointed cursors
      // never exceed it) so the resumed stream can't concatenate into it
      val resume =
        if (spool.length() > 0) {
          val r = SseFrameLog.scan(spool.getPath, 0L, Long.MaxValue)
          if (spool.length() > r.boundary) {
            val ch = new java.io.RandomAccessFile(spool, "rw")
            try ch.setLength(r.boundary) finally ch.close()
          }
          Some(r)
        } else None
      val writer = new java.io.OutputStreamWriter(
        new java.io.FileOutputStream(spool, true), StandardCharsets.UTF_8)
      val client = new SseClient(endpoint, config,
        onChunk = Some(chunk => writer.synchronized { writer.write(chunk); writer.flush() }))
      resume.foreach(r => client.seedResume(r.lastId, r.retryMs))
      client.startBackground()
      (client, writer)
    }
    new SseLiveIngest(ingests)
  }
}

/** Byte-level access to the append-only frame log. */
object SseFrameLog {

  /** The log files behind a source path: the file itself, or every regular
    * file in a directory (sorted for deterministic planning). */
  def listLogs(path: String): Seq[String] = {
    val f = new java.io.File(path)
    if (f.isDirectory) {
      Option(f.listFiles()).getOrElse(Array.empty)
        .filter(_.isFile).map(_.getPath).sorted.toSeq
    } else if (f.exists()) Seq(path)
    else Seq.empty
  }

  /** Read [start, end) as UTF-8 text. Boundaries are always at newline
    * bytes (frame-aligned), so slices are valid UTF-8. */
  def read(path: String, start: Long, end: Long): String = {
    if (end <= start) return ""
    val raf = new RandomAccessFile(path, "r")
    try {
      val len = math.min(end, raf.length()) - start
      if (len <= 0) return ""
      val buf = new Array[Byte](len.toInt)
      raf.seek(start)
      raf.readFully(buf)
      new String(buf, StandardCharsets.UTF_8)
    } finally raf.close()
  }

  /** Result of a forward scan: the frame-aligned byte boundary, and the
    * last `id:` / `retry:` values seen in the committed region (None when
    * the region contains none — caller inherits the prior cursor's). */
  case class ScanResult(boundary: Long, lastId: Option[String], retryMs: Option[Long])

  /** Field names as [[scan]] packs them: a 1 marker, then one byte each. */
  private val Seq(dataName, idName, retryName) =
    Seq("data", "id", "retry").map(_.foldLeft(1L)((c, ch) => c << 8 | ch))

  /** Scan forward from `start`, stopping at the frame boundary after at
    * most `maxEvents` dispatched events (a frame counts if its block
    * contains a `data` line) and never past byte `maxPos` or the last
    * complete frame. Field handling matches [[SseParser.feed]] exactly, so
    * the returned id/retry equal the incremental parser's state at the
    * boundary. Never splits a frame. Walks raw bytes through one buffer,
    * stops reading once the cap is reached, and decodes only id/retry. */
  def scan(path: String, start: Long, maxEvents: Long, maxPos: Long = Long.MaxValue): ScanResult =
    scan(path, start, maxEvents, maxPos, 64 * 1024)

  private[sse] def scan(path: String, start: Long, maxEvents: Long, maxPos: Long,
      bufferBytes: Int): ScanResult = {
    if (!new java.io.File(path).exists()) return ScanResult(start, None, None)
    val in = new ByteWindow(new RandomAccessFile(path, "r"), start, maxPos, bufferBytes)
    try {
      var events = 0L
      var boundary = start
      var blockHasData = false
      // running field state (current, possibly uncommitted frame) vs the
      // state at the last committed boundary
      var curId, committedId: Option[String] = None
      var curRetry, committedRetry: Option[Long] = None
      // current line: packed name; part 0 name, 1 value's first byte, 2 rest
      var name = 1L
      var part = 0
      val value = new java.io.ByteArrayOutputStream()
      var pos = start
      var b = in.at(pos)
      while (b >= 0 && events < maxEvents) {
        if (b == '\n' || b == '\r') { // CRLF/CR/LF all end lines; CRLF counts as one
          val next = if (b == '\r' && in.at(pos + 1) == '\n') pos + 2 else pos + 1
          if (name == 1L && part == 0) { // blank line → frame boundary
            if (blockHasData) events += 1
            blockHasData = false
            boundary = next
            committedId = curId
            committedRetry = curRetry
          } else if (name == dataName) blockHasData = true
          else if (name == idName || name == retryName) {
            val v = value.toString(StandardCharsets.UTF_8)
            if (name == idName) { if (!v.contains('\u0000')) curId = Some(v) }
            else if (v.nonEmpty && v.forall(_.isDigit)) curRetry = Some(v.toLong)
          }
          name = 1L; part = 0; value.reset()
          pos = next
        } else {
          // field split per WHATWG (same as SseParser.processLine); a
          // comment line has an empty name, which matches no field
          if (part == 0) { if (b == ':') part = 1 else if (name < (1L << 48)) name = name << 8 | b }
          else {
            if ((name == idName || name == retryName) && !(part == 1 && b == ' ')) value.write(b)
            part = 2
          }
          pos += 1
        }
        b = in.at(pos)
      }
      ScanResult(boundary, committedId, committedRetry)
    } finally in.close()
  }

  /** Bytes [start, min(length at open, maxPos)) of one file, read forward
    * through one buffer: `at(p)` is the unsigned byte at `p`, -1 past the end. */
  private final class ByteWindow(raf: RandomAccessFile, start: Long, maxPos: Long, size: Int) {
    private val end = math.min(raf.length(), maxPos)
    private val buf = new Array[Byte](math.max(1L, math.min(size.toLong, end - start)).toInt)
    private var from, until = start
    def at(p: Long): Int = {
      if (p >= until) {
        val n = if (p >= end) -1 else { raf.seek(p); raf.read(buf, 0, math.min(buf.length.toLong, end - p).toInt) }
        if (n <= 0) return -1 // past the end, or truncated while scanning
        from = p; until = p + n
      }
      buf((p - from).toInt) & 0xff
    }
    def close(): Unit = raf.close()
  }
}
