package graft.sources.sse

import scala.collection.mutable

/** The reference WHATWG EventSource grammar: a character-level parser over
  * decoded text, written apart from the byte-level [[SseMachine]] that
  * `src/main` runs. Every grammar property compares against it.
  *
  * One leading U+FEFF of the text is a BOM; `retry` takes ASCII digits that
  * fit a Long.
  */
final class RefParser {
  private val dataBuf = new StringBuilder
  private var eventType: Option[String] = None
  private var lastId: Option[String] = None
  private var retryMs: Option[Long] = None
  private val lineBuf = new StringBuilder
  private var sawCr = false
  private var atStreamStart = true

  def feed(chunk: String): Seq[SseEvent] = {
    val out = mutable.ArrayBuffer.empty[SseEvent]
    var i = 0
    if (atStreamStart && chunk.nonEmpty) {
      if (chunk.charAt(0) == '\uFEFF') i = 1
      atStreamStart = false
    }
    while (i < chunk.length) {
      val c = chunk.charAt(i)
      if (sawCr && c == '\n') { sawCr = false } // CRLF: LF already handled
      else {
        sawCr = c == '\r'
        if (c == '\n' || c == '\r') {
          processLine(lineBuf.toString, out)
          lineBuf.clear()
        } else lineBuf.append(c)
      }
      i += 1
    }
    out.toSeq
  }

  def atEof: Boolean = lineBuf.isEmpty && dataBuf.isEmpty
  def lastEventId: Option[String] = lastId
  def serverRetryMs: Option[Long] = retryMs

  private def processLine(line: String, out: mutable.ArrayBuffer[SseEvent]): Unit = {
    if (line.isEmpty) { // dispatch
      if (dataBuf.nonEmpty) {
        // trailing newline from the last "data:" line is dropped per spec
        val data = if (dataBuf.last == '\n') dataBuf.substring(0, dataBuf.length - 1)
        else dataBuf.toString
        out += SseEvent(eventType, lastId, data, retryMs)
      }
      dataBuf.clear()
      eventType = None
    } else if (line.charAt(0) == ':') {
      // comment line — ignored
    } else {
      val colon = line.indexOf(':')
      val (field, value) =
        if (colon < 0) (line, "")
        else {
          val v = line.substring(colon + 1)
          (line.substring(0, colon), if (v.startsWith(" ")) v.substring(1) else v)
        }
      field match {
        case "event" => eventType = Some(value)
        case "data" => dataBuf.append(value).append('\n')
        case "id" => if (!value.contains('\u0000')) lastId = Some(value)
        case "retry" =>
          if (value.nonEmpty && value.forall(c => c >= '0' && c <= '9') && BigInt(value) <= Long.MaxValue)
            retryMs = Some(value.toLong)
        case _ => // unknown field — ignored per spec
      }
    }
  }
}

object RefParser {
  def refParse(text: String): Seq[SseEvent] = new RefParser().feed(text)
}
