package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState, OutputMode,
  StatefulProcessor, StatefulProcessorWithInitialState, TTLConfig, TimeMode,
  TimerValues, ValueState}

import graft.streaming.KeyRule.{MkStore, Store}
import graft.streaming.StreamOps.{tsOfUs, usOf}

/** The per-key rule of each keyed stateful operator in [[StreamOps]], one
  * per operator; both forms of the operator drive it (see [[KeyRule]]).
  * Sorts are on full-µs event time ([[StreamOps.usOf]]) with the batch
  * twin's tiebreak. */
private[streaming] object Rules {

  /** [[StreamOps.sessionize]]: the gap compares floor seconds, as the batch
    * `ev_sessionize` does; the close timer sits at the last instant an
    * event could still merge, (⌊last⌋ + gap + 1) s. */
  final class SessionRule(gapSec: Long)
      extends TimedRule[Long, StreamEvent, SessionState, Session] {
    override def order(b: Iterator[StreamEvent]) = b.toSeq.sortBy(e => usOf(e.ts)).iterator
    def zero(uid: Long): SessionState = null
    def step(uid: Long, s: SessionState, e: StreamEvent, out: Session => Unit): SessionState = {
      val t = usOf(e.ts)
      if (s != null && Math.floorDiv(t, 1000000L) - Math.floorDiv(s.last, 1000000L) <= gapSec)
        SessionState(s.n + 1, s.sum + e.value, s.start, math.max(s.last, t))
      else { // gap exceeded: close the previous session, open a new one
        if (s != null) expire(uid, s).foreach(out)
        SessionState(1L, e.value, t, t)
      }
    }
    def timer(uid: Long, s: SessionState, lastMs: Long, watermarkMs: Long): Long =
      (Math.floorDiv(s.last, 1000000L) + gapSec + 1L) * 1000L
    override def expire(uid: Long, s: SessionState): Iterator[Session] =
      Iterator.single(Session(uid, s.n, s.sum, tsOfUs(s.start), tsOfUs(s.last)))
  }

  /** [[StreamOps.funnel]]: the at-or-after step chain, a conversion emitted
    * once, when the final step lands. Ties sort a step after its
    * predecessor. The dormancy timer sits `ttlMs` past the key's latest
    * event (or the watermark); expiry forgets the user. */
  final class FunnelRule(steps: Seq[String], ttlMs: Long)
      extends TimedRule[Long, StreamEvent, FunnelState, Conversion] {
    override def order(b: Iterator[StreamEvent]) =
      b.toSeq.sortBy(e => (usOf(e.ts), steps.indexOf(e.event_type))).iterator
    def zero(uid: Long): FunnelState = FunnelState(Nil, done = false)
    def step(uid: Long, s: FunnelState, e: StreamEvent, out: Conversion => Unit): FunnelState = {
      val us = usOf(e.ts)
      val idx = s.times.length
      if (s.done || idx >= steps.length || e.event_type != steps(idx) ||
          s.times.nonEmpty && us < s.times.last) s
      else {
        val ts = s.times :+ us
        val done = ts.length == steps.length
        if (done)
          out(Conversion(uid, tsOfUs(ts.head), tsOfUs(ts.last), (ts.last - ts.head) / 1000L))
        FunnelState(ts, done)
      }
    }
    override def eventMs(e: StreamEvent): Long = e.ts.getTime
    def timer(uid: Long, s: FunnelState, lastMs: Long, watermarkMs: Long): Long =
      math.max(lastMs, watermarkMs + 1L) + ttlMs
  }

  /** [[StreamOps.funnelTws]]'s layout: step times in an append-only
    * `ListState` (a landed step appends one entry), the done flag in a
    * `ValueState`. */
  val funnelStore: MkStore[FunnelState] = h => new Store[FunnelState] {
    private val times = h.getListState[Long]("times", Encoders.scalaLong, TTLConfig.NONE)
    private val done = h.getValueState[Boolean]("done", Encoders.scalaBoolean, TTLConfig.NONE)
    def read(): Option[FunnelState] =
      Some(FunnelState(times.get().toList, done.exists() && done.get()))
    def write(prev: Option[FunnelState], s: FunnelState): Unit = {
      s.times.drop(prev.fold(0)(_.times.length)).foreach(times.appendValue)
      done.update(s.done)
    }
    def clear(): Unit = { times.clear(); done.clear() }
  }

  /** [[StreamOps.attributionStream]]: last touch within the lookback, click
    * wins ties. The timer sits one lookback past the key's latest event
    * (or the watermark), when every touch it holds is out of reach. */
  final class TouchRule(lookbackHours: Int)
      extends TimedRule[Long, ChangeEvent, TouchState, Attribution] {
    private val horizonUs = lookbackHours * 3600L * 1000000L
    override def order(b: Iterator[ChangeEvent]) =
      b.toSeq.sortBy(e => (usOf(e.ts), e.event_id)).iterator
    def zero(uid: Long): TouchState = TouchState(None, None)
    def step(uid: Long, s: TouchState, e: ChangeEvent, out: Attribution => Unit): TouchState = {
      val us = usOf(e.ts)
      e.event_type match {
        case "click" => s.copy(lastClickUs = Some(us))
        case "view" => s.copy(lastViewUs = Some(us))
        case "purchase" =>
          out(Attribution(uid, e.event_id, s match {
            case TouchState(Some(c), v) if us - c <= horizonUs && v.forall(c >= _) => "click"
            case TouchState(_, Some(v)) if us - v <= horizonUs => "view"
            case _ => "none"
          }))
          s
        case _ => s
      }
    }
    override def eventMs(e: ChangeEvent): Long = e.ts.getTime
    def timer(uid: Long, s: TouchState, lastMs: Long, watermarkMs: Long): Long =
      math.max(lastMs, watermarkMs + 1L) + lookbackHours * 3600000L
  }

  /** [[StreamOps.scd2Stream]]: one open interval per user, closed at the
    * second a status change arrives. The dormancy timer sits `ttlMs` past
    * the key's latest event (or the watermark); expiry flushes the open
    * interval closed at its last evidence. */
  final class Scd2Rule(ttlMs: Long)
      extends TimedRule[Long, ChangeEvent, Scd2State, Scd2Interval] {
    override def order(b: Iterator[ChangeEvent]) =
      b.toSeq.sortBy(e => (usOf(e.ts), e.event_id)).iterator
    def zero(uid: Long): Scd2State = null
    def step(uid: Long, s: Scd2State, e: ChangeEvent, out: Scd2Interval => Unit): Scd2State = {
      val t = usOf(e.ts) / 1000000L
      if (s == null) Scd2State(1L, e.event_type, 1L, t, t)
      else if (s.status == e.event_type) s.copy(n = s.n + 1, last = math.max(s.last, t))
      else {
        out(Scd2Interval(uid, s.version, s.status, s.n, s.from, t))
        Scd2State(s.version + 1L, e.event_type, 1L, t, t)
      }
    }
    override def eventMs(e: ChangeEvent): Long = e.ts.getTime
    def timer(uid: Long, s: Scd2State, lastMs: Long, watermarkMs: Long): Long =
      math.max(lastMs, watermarkMs + 1L) + ttlMs
    override def expire(uid: Long, s: Scd2State): Iterator[Scd2Interval] =
      Iterator.single(Scd2Interval(uid, s.version, s.status, s.n, s.from, s.last))
  }

  /** [[StreamOps.ohlcStream]]: the hour's bar in integer cents, open/close
    * the (µs, event_id) argmin/argmax — order-free. Each batch emits the
    * refreshed bar; the timer at max(hour end, watermark + 1) emits it a
    * last time and drops the hour. */
  object OhlcRule extends TimedRule[Long, Tick, OhlcState, OhlcBar] {
    def zero(hour: Long): OhlcState = null
    def step(hour: Long, s: OhlcState, t: Tick, out: OhlcBar => Unit): OhlcState = {
      val us = usOf(t.ts)
      val cents = math.floor(t.value * 100 + 0.5).toLong
      if (s == null)
        OhlcState(us, t.event_id, cents, cents, cents, us, t.event_id, cents, 1L, cents)
      else {
        val earlier = us < s.openUs || (us == s.openUs && t.event_id < s.openId)
        val later = us > s.closeUs || (us == s.closeUs && t.event_id > s.closeId)
        val o = if (earlier) (us, t.event_id, cents) else (s.openUs, s.openId, s.open)
        val c = if (later) (us, t.event_id, cents) else (s.closeUs, s.closeId, s.close)
        OhlcState(o._1, o._2, o._3, math.max(s.high, cents), math.min(s.low, cents),
          c._1, c._2, c._3, s.n + 1L, s.vol + cents)
      }
    }
    override def emit(hour: Long, before: OhlcState, s: OhlcState): Iterator[OhlcBar] =
      expire(hour, s)
    def timer(hour: Long, s: OhlcState, lastMs: Long, watermarkMs: Long): Long =
      math.max((hour + 3600L) * 1000L, watermarkMs + 1L)
    override def expire(hour: Long, s: OhlcState): Iterator[OhlcBar] =
      Iterator.single(OhlcBar(hour, s.n, s.open, s.high, s.low, s.close, s.vol))
  }

  /** [[StreamOps.bitmapDistinctStream]]: the (day, type) cell's user
    * bitmap, 62 users a word, merged by `|` — order- and replay-free. Each
    * batch emits the refreshed cell; the timer at max(day end, watermark +
    * 1) emits it a last time and drops the bitmap. */
  object BitmapRule extends TimedRule[(Long, String), StreamEvent, Map[Long, Long], BitmapCell] {
    def word(e: StreamEvent): Long = e.user_id / 62
    /** A word with the event's user bit set. */
    def set(w: Long, e: StreamEvent): Long = w | (1L << (e.user_id % 62).toInt)
    def zero(key: (Long, String)): Map[Long, Long] = Map.empty
    def step(key: (Long, String), m: Map[Long, Long], e: StreamEvent,
        out: BitmapCell => Unit): Map[Long, Long] = {
      val w = word(e)
      m.updated(w, set(m.getOrElse(w, 0L), e))
    }
    override def emit(key: (Long, String), before: Map[Long, Long],
        m: Map[Long, Long]): Iterator[BitmapCell] = expire(key, m)
    def cell(key: (Long, String), nWords: Long, distinct: Long): Iterator[BitmapCell] =
      Iterator.single(BitmapCell(key._1, key._2, nWords, distinct))
    def timer(key: (Long, String), m: Map[Long, Long], lastMs: Long, watermarkMs: Long): Long =
      math.max((key._1 + 1L) * 86400000L, watermarkMs + 1L)
    override def expire(key: (Long, String), m: Map[Long, Long]): Iterator[BitmapCell] =
      cell(key, m.size, m.valuesIterator.map(java.lang.Long.bitCount(_).toLong).sum)
  }

  /** [[StreamOps.bitmapDistinctStreamTws]]'s processor: [[BitmapRule]]'s
    * words as per-word `MapState` entries (an event touches only its word),
    * and the (n_words, distinct) pair kept incrementally in a `ValueState`,
    * so an emission never scans the map. */
  class BitmapDistinctProcessor
      extends StatefulProcessor[(Long, String), StreamEvent, BitmapCell] {
    @transient private var words: MapState[Long, Long] = _
    @transient private var counts: ValueState[(Long, Long)] = _
    @transient private var timer: OneTimer = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      words = getHandle.getMapState[Long, Long]("words",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
      counts = getHandle.getValueState[(Long, Long)]("counts",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
      timer = new OneTimer(getHandle)
    }

    override def handleInputRows(key: (Long, String), rows: Iterator[StreamEvent],
        timers: TimerValues): Iterator[BitmapCell] = {
      var (nw, dist) = if (counts.exists()) counts.get() else (0L, 0L)
      rows.foreach { e =>
        val w = BitmapRule.word(e)
        val cur = if (words.containsKey(w)) words.getValue(w) else { nw += 1; 0L }
        val next = BitmapRule.set(cur, e)
        if (next != cur) { words.updateValue(w, next); dist += 1 }
      }
      counts.update((nw, dist))
      timer.rearm(BitmapRule.timer(key, null, Long.MinValue, timers.getCurrentWatermarkInMs()))
      BitmapRule.cell(key, nw, dist)
    }

    override def handleExpiredTimer(key: (Long, String), timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[BitmapCell] = {
      val last = if (counts.exists()) Some(counts.get()) else None
      words.clear(); counts.clear(); timer.clear()
      last.iterator.flatMap { case (nw, dist) => BitmapRule.cell(key, nw, dist) }
    }
  }

  /** [[StreamOps.anomalies]]: Welford moments; an event is judged against
    * the moments BEFORE it, after a `minN` warm-up. */
  final class AnomalyRule(minN: Long, zThreshold: Double)
      extends KeyRule[String, StreamEvent, TypeStats, Anomaly] {
    override def order(b: Iterator[StreamEvent]) =
      b.toSeq.sortBy(e => (usOf(e.ts), e.user_id, e.value)).iterator
    def zero(typ: String): TypeStats = TypeStats(0L, 0.0, 0.0)
    def step(typ: String, s: TypeStats, e: StreamEvent, out: Anomaly => Unit): TypeStats = {
      if (s.n >= minN) {
        val sd = math.sqrt(s.m2 / (s.n - 1).toDouble)
        if (sd > 0) {
          val z = (e.value - s.mean) / sd
          if (math.abs(z) >= zThreshold) out(Anomaly(typ, e.user_id, e.value, z, e.ts))
        }
      }
      val n1 = s.n + 1
      val d = e.value - s.mean
      val mean1 = s.mean + d / n1
      TypeStats(n1, mean1, s.m2 + d * (e.value - mean1))
    }
  }

  /** [[StreamOps.distinctSketch]]: the k smallest distinct user hashes — a
    * set union, so order-, split- and replay-free. */
  final class KmvRule(k: Int) extends KeyRule[String, StreamEvent, KmvSketch, DistinctEstimate] {
    def zero(typ: String): KmvSketch = KmvSketch(Nil)
    def step(typ: String, s: KmvSketch, e: StreamEvent,
        out: DistinctEstimate => Unit): KmvSketch = {
      val h = StreamOps.hash31(e.user_id.toString)
      if (s.hashes.contains(h) || s.hashes.size >= k && h > s.hashes.last) s
      else KmvSketch((s.hashes :+ h).sorted.take(k))
    }
    override def emit(typ: String, before: KmvSketch, s: KmvSketch): Iterator[DistinctEstimate] = {
      val m = s.hashes
      Iterator.single(DistinctEstimate(typ,
        if (m.size < k) m.size.toLong
        else math.floor((k - 1).toDouble * 2147483647L / m.max).toLong, m.size))
    }
  }

  /** [[StreamOps.hllSketch]]: 64 registers of the batch
    * `Events.hllDistinct` hash, merged by max — order-, split- and
    * replay-free. The estimate is the batch's integer harmonic sum and
    * fixed-order float finish. */
  object HllRule extends KeyRule[String, StreamEvent, HllState, HllEstimate] {
    def zero(typ: String): HllState = HllState(Vector.fill(64)(0))
    def step(typ: String, s: HllState, e: StreamEvent, out: HllEstimate => Unit): HllState = {
      val h = StreamOps.hash60(e.user_id.toString)
      val b = (h % 64).toInt
      val w = h / 64
      val rho = if (w == 0) 55 else 55 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      if (rho > s.regs(b)) HllState(s.regs.updated(b, rho)) else s
    }
    override def emit(typ: String, before: HllState, s: HllState): Iterator[HllEstimate] = {
      // empty registers (0) contribute 2^55; the one float step is the
      // final fixed-order alpha*m^2*2^55 / S
      val sum = s.regs.map(r => 1L << (55 - r)).sum
      val est = java.math.BigDecimal
        .valueOf(0.709 * 4096.0 * (1L << 55).toDouble / sum)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      Iterator.single(HllEstimate(typ, est, s.regs.count(_ > 0)))
    }
    /** [[StreamOps.hllSketchTws]]'s layout: the raised registers as a
      * `MapState[bucket → rho]`. */
    val store: MkStore[HllState] = h =>
      KeyRule.entries[Int, Int]("regs", Encoders.scalaInt, Encoders.scalaInt)(h).xmap(
        m => HllState(Vector.tabulate(64)(m.getOrElse(_, 0))),
        s => s.regs.indices.filter(s.regs(_) > 0).map(b => b -> s.regs(b)).toMap)
  }

  /** A histogram: each event adds one to its bucket — a sum, so order- and
    * split-free. The emit reads the whole map. Serves
    * [[StreamOps.quantileSketch]], [[StreamOps.countMinStream]] and
    * [[StreamOps.schemaInferStream]]. */
  final class CountRule[K, E, B, O](bucket: E => B, view: (K, Map[B, Long]) => O)
      extends KeyRule[K, E, Map[B, Long], O] {
    def zero(key: K): Map[B, Long] = Map.empty
    def step(key: K, m: Map[B, Long], e: E, out: O => Unit): Map[B, Long] = {
      val b = bucket(e)
      m.updated(b, m.getOrElse(b, 0L) + 1L)
    }
    override def emit(key: K, before: Map[B, Long], m: Map[B, Long]): Iterator[O] =
      Iterator.single(view(key, m))
  }

  /** Log-linear value buckets ([[StreamOps.bucket31]]) with p50/p99 read
    * by the batch rank rule. */
  val quantiles = new CountRule[String, StreamEvent, Long, QuantileEstimate](
    e => StreamOps.bucket31(e.value), { (typ, m) =>
      val n = m.valuesIterator.sum
      QuantileEstimate(typ, n, m.size,
        StreamOps.sketchQuantile(m, n, 0.50), StreamOps.sketchQuantile(m, n, 0.99))
    })

  /** One Count-Min hash row's bucket counters; input is (row, bucket). */
  val countMinRow = new CountRule[Int, (Int, Int), Int, CmRowState](_._2, CmRowState(_, _))

  /** One JSON key's shape counts; input is (key, shape). */
  val keyShapes =
    new CountRule[String, (String, String), String, KeyShapeProfile](_._2, KeyShapeProfile(_, _))

  /** [[StreamOps.latenessMonitor]]: the running event-time maximum and the
    * late counts against it; late_frac rounds HALF_UP like the batch audit. */
  object LatenessRule extends KeyRule[String, StreamEvent, LateState, LatenessProfile] {
    override def order(b: Iterator[StreamEvent]) =
      b.toSeq.sortBy(e => (usOf(e.ts), e.user_id)).iterator
    def zero(typ: String): LateState = LateState(0L, 0L, 0L, Long.MinValue)
    def step(typ: String, s: LateState, e: StreamEvent,
        out: LatenessProfile => Unit): LateState = {
      val t = e.ts.getTime
      if (t < s.runmax)
        s.copy(n = s.n + 1, nLate = s.nLate + 1, maxLateMs = math.max(s.maxLateMs, s.runmax - t))
      else s.copy(n = s.n + 1, runmax = t)
    }
    override def emit(typ: String, before: LateState, s: LateState): Iterator[LatenessProfile] =
      Iterator.single(LatenessProfile(typ, s.n, s.nLate,
        if (s.n == 0) 0.0
        else java.math.BigDecimal.valueOf(s.nLate.toDouble / s.n)
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue(),
        s.maxLateMs))
  }

  /** [[StreamOps.ewmaStream]]: ascending (hour, count) taps; a batch emits
    * the integer EWMA (8/4/2/1) of every hour it touched, read off the
    * untrimmed list, and carries only the 4 taps a later hour can reach.
    * An event older than the carried horizon re-opens its hour with a
    * fresh count (its trimmed predecessors read as 0). */
  object EwmaRule extends KeyRule[String, StreamEvent, Seq[(Long, Long)], EwmaPoint] {
    override def order(b: Iterator[StreamEvent]) = b.toSeq.sortBy(e => usOf(e.ts)).iterator
    def zero(et: String): Seq[(Long, Long)] = Seq.empty
    def step(et: String, taps: Seq[(Long, Long)], e: StreamEvent,
        out: EwmaPoint => Unit): Seq[(Long, Long)] = {
      val hour = e.ts.getTime / 3600000L * 3600L
      taps.indexWhere(_._1 == hour) match {
        case -1 => (taps :+ (hour, 1L)).sortBy(_._1)
        case i => taps.updated(i, (hour, taps(i)._2 + 1L))
      }
    }
    /** The touched hours are those whose count moved in the batch. */
    override def emit(et: String, before: Seq[(Long, Long)],
        taps: Seq[(Long, Long)]): Iterator[EwmaPoint] = {
      val was = before.toMap
      taps.indices.iterator.filterNot(i => was.get(taps(i)._1).contains(taps(i)._2)).map { i =>
        def tap(k: Int): Long = if (i - k >= 0) taps(i - k)._2 else 0L
        EwmaPoint(et, taps(i)._1, taps(i)._2, tap(0) * 8 + tap(1) * 4 + tap(2) * 2 + tap(3))
      }
    }
    override def carry(taps: Seq[(Long, Long)]): Seq[(Long, Long)] = taps.takeRight(4)
    /** [[StreamOps.ewmaStreamTws]]'s layout: the taps wrapped in [[EwmaTaps]]. */
    val store: MkStore[Seq[(Long, Long)]] = h =>
      KeyRule.value("taps", Encoders.product[EwmaTaps])(h).xmap(_.taps, EwmaTaps)
  }

  /** [[StreamOps.burstStream]]: an hour closes when a later one opens and
    * is judged against the closed hours' moments by the batch's integer
    * 3σ inequality, (n·x − Σx)² > 9·(n·Σx² − (Σx)²). */
  object BurstRule extends KeyRule[String, StreamEvent, BurstState, BurstVerdict] {
    override def order(b: Iterator[StreamEvent]) = b.toSeq.sortBy(e => usOf(e.ts)).iterator
    def zero(typ: String): BurstState = BurstState(0L, 0L, 0L, -1L, 0L)
    def step(typ: String, s: BurstState, e: StreamEvent, out: BurstVerdict => Unit): BurstState = {
      val hour = e.ts.getTime / 3600000L * 3600L
      val cur = if (hour == s.openHour) s
        else close(s, out).copy(openHour = hour, openCnt = 0L)
      cur.copy(openCnt = cur.openCnt + 1L)
    }
    private def close(s: BurstState, out: BurstVerdict => Unit): BurstState =
      if (s.openHour < 0) s
      else {
        val (n, x) = (s.n, s.openCnt)
        val devN = n * x - s.s1
        out(BurstVerdict(s.openHour, x,
          n > 0 && devN > 0 && devN * devN > 9L * (n * s.s2 - s.s1 * s.s1)))
        BurstState(n + 1, s.s1 + x, s.s2 + x * x, -1L, 0L)
      }
  }

  /** [[StreamOps.heavyHitters]]: Misra–Gries ([[StreamOps.mgUpdate]]) over
    * the (µs, user)-ordered batch; the profile sorts counters by (count
    * desc, user asc). */
  final class HeavyHitterRule(k: Int)
      extends KeyRule[String, StreamEvent, HhState, HeavyHittersProfile] {
    override def order(b: Iterator[StreamEvent]) =
      b.toSeq.sortBy(e => (usOf(e.ts), e.user_id)).iterator
    def zero(typ: String): HhState = HhState(0L, Map.empty)
    def step(typ: String, s: HhState, e: StreamEvent,
        out: HeavyHittersProfile => Unit): HhState =
      HhState(s.n + 1, StreamOps.mgUpdate(s.counters, k, e.user_id))
    override def emit(typ: String, before: HhState, s: HhState): Iterator[HeavyHittersProfile] = {
      val sorted = s.counters.toSeq.sortBy { case (u, c) => (-c, u) }
      Iterator.single(HeavyHittersProfile(typ, s.n, sorted.map(_._1), sorted.map(_._2)))
    }
  }

  /** [[StreamOps.heavyHittersTws]]'s layout: the count n in a `ValueState`,
    * the counters as a `MapState[user → count]` — only the budget-full
    * decrement writes every entry, and there are at most k. */
  val heavyHitterStore: MkStore[HhState] = h => {
    val n = KeyRule.value[Long]("n", Encoders.scalaLong)(h)
    val counters =
      KeyRule.entries[Long, Long]("counters", Encoders.scalaLong, Encoders.scalaLong)(h)
    new Store[HhState] {
      def read(): Option[HhState] = Some(HhState(n.read().getOrElse(0L), counters.read().get))
      def write(prev: Option[HhState], s: HhState): Unit = {
        counters.write(prev.map(_.counters), s.counters)
        n.write(None, s.n)
      }
      def clear(): Unit = { n.clear(); counters.clear() }
    }
  }

  /** [[StreamOps.cusumStream]]: Page's statistic against the published
    * hourly mean; an hour closes when a later one opens. maxDrift starts at
    * −1 so the first closed hour claims an all-zero-drift tie, as the
    * batch lexicographic [drift, −hour] max does. */
  final class CusumRule(refMeans: Map[String, Long])
      extends KeyRule[String, StreamEvent, CusumState, CusumPoint] {
    override def order(b: Iterator[StreamEvent]) = b.toSeq.sortBy(e => usOf(e.ts)).iterator
    def zero(typ: String): CusumState = null
    def step(typ: String, s: CusumState, e: StreamEvent, out: CusumPoint => Unit): CusumState = {
      val h = e.ts.getTime / 3600000L
      if (s == null) CusumState(h, 1L, 0L, Long.MaxValue, -1L, -1L, 0L)
      else if (h == s.openHour) s.copy(cnt = s.cnt + 1)
      else {
        val p = s.p + s.cnt - refMeans.getOrElse(typ, 0L)
        val runmin = math.min(s.runmin, p)
        val drift = p - runmin
        val (md, dh) = if (drift > s.maxDrift) (drift, s.openHour) else (s.maxDrift, s.driftHour)
        CusumState(h, 1L, p, runmin, md, dh, s.nClosed + 1)
      }
    }
    override def emit(typ: String, before: CusumState, s: CusumState): Iterator[CusumPoint] =
      Iterator.single(CusumPoint(typ, s.nClosed, s.maxDrift, s.driftHour))
  }

  /** [[StreamOps.transitionStream]] and the V1 and warm-start TWS forms:
    * each event emits its edge from the user's last event. `ttlMs` arms
    * the plain form's event-time eviction (a gap past it opens a fresh
    * chain); the TWS forms expire `last` by state TTL and never arm it. */
  final class TransitionRule(ttlMs: Long = 0L)
      extends TimedRule[Long, ChangeEvent, LastEvent, Transition] {
    override def order(b: Iterator[ChangeEvent]) =
      b.toSeq.sortBy(e => (usOf(e.ts), e.event_id)).iterator
    def zero(uid: Long): LastEvent = null
    def step(uid: Long, s: LastEvent, e: ChangeEvent, out: Transition => Unit): LastEvent = {
      val t = usOf(e.ts)
      if (s != null) out(Transition(uid, s.event_type, e.event_type, t - s.us))
      LastEvent(e.event_type, t)
    }
    def timer(uid: Long, s: LastEvent, lastMs: Long, watermarkMs: Long): Long =
      math.max(s.us / 1000L, watermarkMs + 1L) + ttlMs
  }

  /** The transition store: `last` in a `ValueState` (TTL-expired if `ttl`
    * is non-null). */
  def lastEvent(ttl: java.time.Duration): MkStore[LastEvent] =
    KeyRule.value("last", Encoders.product[LastEvent], ttl)

  /** [[StreamOps.transitionStreamTwsV2]]: [[TransitionRule]] plus a
    * cumulative edge count; a V1-written `last` reads with `n_edges = None`
    * and the count starts at the upgrade. */
  object TransitionV2Rule extends KeyRule[Long, ChangeEvent, LastEventV2, TransitionV2] {
    private val v1 = new TransitionRule()
    override def order(b: Iterator[ChangeEvent]) = v1.order(b)
    def zero(uid: Long): LastEventV2 = null
    def step(uid: Long, s: LastEventV2, e: ChangeEvent,
        out: TransitionV2 => Unit): LastEventV2 = {
      var n = if (s == null) 0L else s.n_edges.getOrElse(0L)
      val last = v1.step(uid, if (s == null) null else LastEvent(s.event_type, s.us), e, t => {
        n += 1
        out(TransitionV2(t.user_id, t.from_type, t.to_type, t.gap_us, n))
      })
      LastEventV2(last.event_type, last.us, Some(n))
    }
  }

  /** [[StreamOps.transitionStreamTwsWarm]]'s processor: [[TransitionRule]]
    * with each snapshot row seeding the user's `last` before any streamed
    * batch (`handleInitialState` runs before `handleInputRows` for a key,
    * so rows in the same first batch still chain off it). */
  class WarmTransitionProcessor extends StatefulProcessorWithInitialState[
      Long, ChangeEvent, Transition, UserLastEvent] {
    private val rule = new TransitionRule()
    @transient private var st: Store[LastEvent] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = lastEvent(null)(getHandle)

    override def handleInitialState(uid: Long, initial: UserLastEvent,
        timers: TimerValues): Unit =
      st.write(None, LastEvent(initial.event_type, initial.us))

    override def handleInputRows(uid: Long, rows: Iterator[ChangeEvent],
        timers: TimerValues): Iterator[Transition] =
      KeyRule.stored(rule, st, uid, rows).out
  }
}
