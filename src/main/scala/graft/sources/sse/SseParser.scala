package graft.sources.sse

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** One parsed Server-Sent Event.
  *
  * Mirrors the reference record (reference ServerSentEvent.java:25-34):
  * `event` (required there, optional at the wire level), `id` (optional),
  * `data` (required). `retry` is the server-requested reconnection delay.
  */
case class SseEvent(event: Option[String], id: Option[String], data: String,
    retry: Option[Long] = None)

/** Incremental WHATWG EventSource stream parser, one byte at a time: the
  * one copy of the grammar the reference consumes through jax-rs
  * `SseEventSource` (reference ServerSentEventClient.java). `event:` /
  * `data:` / `id:` / `retry:` fields, comment lines (leading ':'), a
  * colon-less line as a field with an empty value, multi-line data joined
  * with '\n', one leading space stripped after the colon, CR / LF / CRLF
  * line endings, blank-line dispatch, last-event-id and retry persistence.
  * An `id` holding NUL is ignored; a `retry` counts only as ASCII digits
  * that fit a Long. One BOM is stripped only at the first byte of a stream.
  * The offset scan runs it with `values` off (no `event` or `data` kept);
  * the value of an unknown field or a comment is never buffered.
  */
final class SseParser private[sse] (values: Boolean, streamStart: Boolean) {
  import SseParser._

  def this() = this(values = true, streamStart = true)

  private var lastId: Option[String] = None
  private var retryMs: Option[Long] = None
  private var eventType: Option[String] = None
  private var hasData = false
  // the block's data lines (each + '\n') to dataEnd, then the line's value to len
  private[sse] var data = new Array[Byte](64)
  private var dataEnd, len = 0
  /** Whether the last frame end dispatched an event, and that event's name
    * and data `data[0, dataLen)`, valid until the next [[push]]. */
  private[sse] var dispatched = false
  private[sse] var event: Option[String] = None
  private[sse] var dataLen = 0
  // current line: packed name; part 0 name, 1 value's first byte, 2 rest
  private var name = 1L
  private var part = 0
  private var afterCr = false
  private var head = if (streamStart) 0 else 3 // bytes pushed, up to 3 (BOM)
  private var high = "" // a high surrogate held back from the last chunk

  /** Feed a chunk of stream text; returns events completed by this chunk.
    * A high surrogate that ends the chunk waits for the next one. */
  def feed(chunk: String): Seq[SseEvent] = {
    val text = if (high.isEmpty) chunk else high + chunk
    val cut = if (text.nonEmpty && text.last.isHighSurrogate) text.length - 1 else text.length
    high = text.substring(cut)
    val bytes = text.substring(0, cut).getBytes(UTF_8)
    val out = mutable.ArrayBuffer.empty[SseEvent]
    var i = 0
    while (i < bytes.length) {
      if (push(bytes(i) & 0xff) && dispatched)
        out += SseEvent(event, lastId, new String(data, 0, dataLen, UTF_8), retryMs)
      i += 1
    }
    out.toSeq
  }

  /** Signal end-of-stream. Per spec an unterminated final event block is NOT
    * dispatched; this just reports whether data was discarded. */
  def atEof: Boolean = name == 1L && part == 0 && !hasData && high.isEmpty

  /** The WHATWG last-event-id buffer — persists across events (and, seeded
    * via [[seed]], across micro-batches and reconnects). */
  def lastEventId: Option[String] = lastId

  /** The server-requested reconnection delay (`retry:` field), if any —
    * honored by [[SseClient]] the way the reference's jax-rs source honors
    * it (reference ServerSentEventClient.java:290-294). */
  def serverRetryMs: Option[Long] = retryMs

  /** Seed parser state carried over from a previous batch of the same
    * stream, so an id-less frame at the start of a batch inherits the last
    * id-bearing frame's id (WHATWG last-event-id semantics across the
    * micro-batch boundary). */
  def seed(id: Option[String], retry: Option[Long]): this.type = {
    lastId = id; retryMs = retry; this
  }

  /** Consume one byte (0-255); true when it ends a frame (a blank line). */
  private[sse] def push(b: Int): Boolean = {
    if (head < 3) {
      head += 1
      if (head == 3 && b == 0xbf && name == bomPrefix) { name = 1L; return false }
    }
    if (afterCr) { afterCr = false; if (b == '\n') return false }
    if (b == '\n' || b == '\r') { afterCr = b == '\r'; return endLine() }
    if (part == 0) { if (b == ':') part = 1 else if (name < (1L << 48)) name = name << 8 | b }
    else if (part == 1 && b == ' ') part = 2
    else {
      part = 2
      if (name == idField || name == retryField || values && (name == dataField || name == eventField))
        add(b)
    }
    false
  }

  private def add(b: Int): Unit = {
    if (len == data.length) data = java.util.Arrays.copyOf(data, len * 2)
    data(len) = b.toByte
    len += 1
  }

  private def endLine(): Boolean = {
    val n = name
    val blank = n == 1L && part == 0
    name = 1L; part = 0
    if (blank) {
      dispatched = hasData
      event = eventType; dataLen = dataEnd - 1 // drop the last '\n'
      eventType = None; hasData = false; dataEnd = 0; len = 0
    } else if (n == dataField) {
      hasData = true
      if (values) add('\n')
      dataEnd = len
    } else {
      val v = new String(data, dataEnd, len - dataEnd, UTF_8)
      len = dataEnd
      if (n == eventField) eventType = Some(v)
      else if (n == idField && v.indexOf('\u0000') < 0) lastId = Some(v)
      else if (n == retryField && v.nonEmpty && v.forall(c => c >= '0' && c <= '9'))
        retryMs = v.toLongOption.orElse(retryMs)
    }
    blank
  }
}

object SseParser {
  /** Parse a complete SSE document (convenience for batch/test use). */
  def parseAll(text: String): Seq[SseEvent] = new SseParser().feed(text)

  /** Reference null-handling semantics applied on top of the wire event
    * (reference ServerSentEventsSourceTask.java:114-117): missing event
    * name → "unknown", missing data → "". */
  def normalize(e: SseEvent): (String, Option[String], String) =
    (eventName(e.event), e.id, e.data)

  /** The event name after [[normalize]]'s null-handling. */
  private[sse] def eventName(event: Option[String]): String = event.getOrElse("unknown")

  /** Field names as [[SseParser.push]] packs them, a 1 marker then one byte
    * each (a name longer than 6 bytes matches none), and the first two BOM
    * bytes. */
  private val Seq(dataField, eventField, idField, retryField, bomPrefix) =
    Seq("data", "event", "id", "retry", "\u00ef\u00bb").map(_.foldLeft(1L)((c, ch) => c << 8 | ch))
}
