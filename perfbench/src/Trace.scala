package graftbench

import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory spans (name, start, end, parent), written out when the run ends.
  * Times are epoch milliseconds with sub-millisecond resolution, the same
  * clock the Spark listener events carry. When `on` is false nothing is
  * recorded and `span` only runs its body. */
final class Tracer(val on: Boolean) {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val buf = mutable.ArrayBuffer.empty[Tracer.Span]

  def now: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6
  def newId(): Long = ids.incrementAndGet()

  def record(id: Long, parent: Long, name: String, layer: String,
      start: Double, end: Double): Unit =
    if (on) synchronized { buf += Tracer.Span(id, parent, name, layer, start, end) }

  def span[T](name: String, layer: String, parent: Long, id: Long = newId())(f: => T): T = {
    val s = now
    try f finally record(id, parent, name, layer, s, now)
  }

  def spans: Seq[Tracer.Span] = synchronized(buf.toList)

  def write(path: String): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.start).foreach { s =>
      sb.append(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start" -> s.start, "end" -> s.end))).append('\n')
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String, layer: String,
      start: Double, end: Double)
}

/** Spark job and stage records, keyed by the job group the harness sets
  * around each build and exec phase (`gb:<span id>`) or, for streaming
  * jobs, by the micro-batch id Spark puts in the job's local properties. */
final class SparkTrace extends SparkListener {
  final case class Job(id: Int, start: Long, group: String, batch: String,
      stageIds: Seq[Int], var end: Long = -1L)
  final case class Stage(id: Int, group: String, batch: String, submit: Long,
      done: Long, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, input: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageProps = mutable.Map.empty[Int, (String, String)]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  @volatile private var lastEventMs = System.currentTimeMillis()

  private def prop(p: Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, prop(e.properties, "spark.jobGroup.id"),
      prop(e.properties, "streaming.sql.batchId"), e.stageIds)
    lastEventMs = System.currentTimeMillis()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
    lastEventMs = System.currentTimeMillis()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageProps(e.stageInfo.stageId) =
      (prop(e.properties, "spark.jobGroup.id"), prop(e.properties, "streaming.sql.batchId"))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    val (group, batch) = stageProps.getOrElse(si.stageId, ("", ""))
    if (m != null) stages += Stage(si.stageId, group, batch,
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L), si.numTasks,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
    lastEventMs = System.currentTimeMillis()
  }

  /** Wait until every started job has ended and the bus has been quiet for
    * a moment, so the records cover the work just finished. */
  def settle(maxWaitMs: Long = 5000L): Unit = {
    val deadline = System.currentTimeMillis() + maxWaitMs
    def busy: Boolean = synchronized(jobs.values.exists(_.end < 0)) ||
      System.currentTimeMillis() - lastEventMs < 300
    while (busy && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  def jobList: Seq[Job] = synchronized(jobs.values.toList)
  def stageList: Seq[Stage] = synchronized(stages.toList)
}

/** Minimal JSON writer for the flat records the harness emits. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
