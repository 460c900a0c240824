package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, OutputMode,
  StatefulProcessor, StatefulProcessorHandle, TTLConfig, TimeMode, TimerValues}

/** One keyed stateful operator's per-key rule: the in-batch order, the
  * initial state, the `(state, event) => state` step with what it emits,
  * and the per-batch emit. Each operator in [[StreamOps]] writes its rule
  * once ([[Rules]]) and drives it from both forms: the plain form under
  * `flatMapGroupsWithState` / `mapGroupsWithState` ([[KeyRule.groups]]),
  * the `…Tws` form under a `StatefulProcessor` ([[RuleProcessor]]). The
  * rule never sees how its state is stored, so both forms emit the same
  * rows. */
private[streaming] abstract class KeyRule[K, E, S, O] extends Serializable {
  /** The in-batch order; arrival order unless overridden. */
  def order(batch: Iterator[E]): Iterator[E] = batch
  /** The state a key starts from (null where its first event opens it). */
  def zero(key: K): S
  /** Folds one event into the state; `out` takes what the event emits. */
  def step(key: K, s: S, e: E, out: O => Unit): S
  /** What a batch emits once folded, given the state before and after. */
  def emit(key: K, before: S, after: S): Iterator[O] = Iterator.empty
  /** The part of the state carried to the next batch. */
  def carry(s: S): S = s
  /** An event's time in ms; a timed rule arms off the batch's latest. */
  def eventMs(e: E): Long = Long.MinValue

  /** One batch folded into the state the key carried in (`None`: new key). */
  final def batch(key: K, prev: Option[S], events: Iterator[E]): KeyRule.Batch[S, O] = {
    val before = prev.getOrElse(zero(key))
    val out = ArrayBuffer.empty[O]
    var s = before
    var lastMs = Long.MinValue
    order(events).foreach { e =>
      lastMs = math.max(lastMs, eventMs(e))
      s = step(key, s, e, out += _)
    }
    out ++= emit(key, before, s)
    KeyRule.Batch(carry(s), out.iterator, lastMs)
  }
}

/** A rule whose key also holds one event-time timer, re-armed after every
  * batch. When it fires the key's state is dropped and `expire` says what
  * the key emits last. */
private[streaming] abstract class TimedRule[K, E, S, O] extends KeyRule[K, E, S, O] {
  /** The timer instant after a batch whose latest event was at `lastMs`. */
  def timer(key: K, s: S, lastMs: Long, watermarkMs: Long): Long
  def expire(key: K, s: S): Iterator[O] = Iterator.empty
}

private[streaming] object KeyRule {
  final case class Batch[S, O](state: S, out: Iterator[O], lastMs: Long)

  /** The plain form's `flatMapGroupsWithState` function. */
  def groups[K, E, S, O](rule: KeyRule[K, E, S, O])(key: K, events: Iterator[E],
      state: GroupState[S]): Iterator[O] = {
    val b = rule.batch(key, state.getOption, events)
    state.update(b.state)
    b.out
  }

  /** The plain form's `mapGroupsWithState` function: the one row a batch emits. */
  def group[K, E, S, O](rule: KeyRule[K, E, S, O])(key: K, events: Iterator[E],
      state: GroupState[S]): O = groups(rule)(key, events, state).next()

  /** A timed rule's plain form: the `GroupState` event-time timeout is the
    * key's timer. */
  def timedGroups[K, E, S, O](rule: TimedRule[K, E, S, O])(key: K,
      events: Iterator[E], state: GroupState[S]): Iterator[O] =
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      rule.expire(key, s)
    } else {
      val b = rule.batch(key, state.getOption, events)
      state.update(b.state)
      state.setTimeoutTimestamp(
        rule.timer(key, b.state, b.lastMs, state.getCurrentWatermarkMs()))
      b.out
    }

  /** Where a `…Tws` form keeps a rule's state: its state variables. */
  trait Store[S] {
    def read(): Option[S]
    /** Writes `s` over `prev`, what `read` returned for this batch. */
    def write(prev: Option[S], s: S): Unit
    def clear(): Unit

    final def xmap[T](f: S => T, g: T => S): Store[T] = {
      val self = this
      new Store[T] {
        def read(): Option[T] = self.read().map(f)
        def write(prev: Option[T], t: T): Unit = self.write(prev.map(g), g(t))
        def clear(): Unit = self.clear()
      }
    }
  }

  /** Opens a store's state variables on a processor's handle (in `init`). */
  type MkStore[S] = StatefulProcessorHandle => Store[S]

  /** The state as one `ValueState`; a non-null `ttl` lets the engine expire
    * it that long after its last update. */
  def value[S](name: String, enc: Encoder[S],
      ttl: java.time.Duration = null): MkStore[S] = h => new Store[S] {
    private val v = h.getValueState[S](name, enc,
      if (ttl == null) TTLConfig.NONE else TTLConfig(ttl))
    def read(): Option[S] = if (v.exists()) Some(v.get()) else None
    def write(prev: Option[S], s: S): Unit = v.update(s)
    def clear(): Unit = v.clear()
  }

  /** A map state as a `MapState`, one store entry per map entry: a batch
    * writes only the entries it changed. */
  def entries[A, B](name: String, ka: Encoder[A],
      vb: Encoder[B]): MkStore[Map[A, B]] = h => new Store[Map[A, B]] {
    private val m = h.getMapState[A, B](name, ka, vb, TTLConfig.NONE)
    def read(): Option[Map[A, B]] = Some(m.iterator().toMap)
    def write(prev: Option[Map[A, B]], s: Map[A, B]): Unit = {
      val p = prev.getOrElse(Map.empty)
      (p.keySet -- s.keySet).foreach(m.removeKey)
      s.foreach { case (a, b) => if (!p.get(a).contains(b)) m.updateValue(a, b) }
    }
    def clear(): Unit = m.clear()
  }

  /** One batch of a `…Tws` form: read the stored state, fold, write back. */
  def stored[K, E, S, O](rule: KeyRule[K, E, S, O], st: Store[S], key: K,
      rows: Iterator[E]): Batch[S, O] = {
    val prev = st.read()
    val b = rule.batch(key, prev, rows)
    st.write(prev, b.state)
    b
  }
}

/** The `…Tws` form of a rule: its state in `store`'s state variables. */
private[streaming] class RuleProcessor[K, E, S, O](rule: KeyRule[K, E, S, O],
    store: KeyRule.MkStore[S]) extends StatefulProcessor[K, E, O] {
  @transient protected var st: KeyRule.Store[S] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = store(getHandle)

  override def handleInputRows(key: K, rows: Iterator[E],
      timers: TimerValues): Iterator[O] = {
    val b = KeyRule.stored(rule, st, key, rows)
    folded(key, b, timers)
    b.out
  }

  protected def folded(key: K, b: KeyRule.Batch[S, O], timers: TimerValues): Unit = ()
}

/** The `…Tws` form of a timed rule: the key's timer is an engine event-time
  * timer, so a timer armed before a shutdown fires after the restart. */
private[streaming] class TimedProcessor[K, E, S, O](rule: TimedRule[K, E, S, O],
    store: KeyRule.MkStore[S]) extends RuleProcessor[K, E, S, O](rule, store) {
  @transient private var timer: OneTimer = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    super.init(outputMode, timeMode)
    timer = new OneTimer(getHandle)
  }

  override protected def folded(key: K, b: KeyRule.Batch[S, O],
      timers: TimerValues): Unit =
    timer.rearm(rule.timer(key, b.state, b.lastMs, timers.getCurrentWatermarkInMs()))

  override def handleExpiredTimer(key: K, timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[O] = {
    timer.clear()
    val s = st.read()
    st.clear()
    s.fold(Iterator.empty[O])(rule.expire(key, _))
  }
}

/** One pending timer per key: a re-arm deletes the instant armed last (kept
  * in the key's `armedAt` state) before registering the next, so a dormant
  * key carries exactly one. Open it in `init` after the operator's own
  * state variables. */
private[streaming] final class OneTimer(h: StatefulProcessorHandle) {
  private val armedAt = h.getValueState[Long]("armedAt", Encoders.scalaLong, TTLConfig.NONE)

  def rearm(at: Long): Unit = {
    if (armedAt.exists()) h.deleteTimer(armedAt.get())
    h.registerTimer(at)
    armedAt.update(at)
  }

  def clear(): Unit = armedAt.clear()
}
