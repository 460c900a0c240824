package graft.streaming

import java.sql.Timestamp

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, TimeMode}

import graft.streaming.KeyRule.{group, groups, timedGroups}
import graft.streaming.Rules._

/** A timestamped event on the stream (the SSE record after JSON decode). */
case class StreamEvent(user_id: Long, event_type: String, value: Double, ts: Timestamp)

/** Closed session emitted by the stateful sessionizer. */
case class Session(user_id: Long, n_events: Long, sum_value: Double,
    session_start: Timestamp, session_end: Timestamp)

private case class SessionState(n: Long, sum: Double, start: Long, last: Long)

/** A doc after the stateless funnel stages, carrying its dedup keys. */
case class StagedDoc(doc_id: Long, source: String, stage0: String,
    digest: String, sig: Seq[Long])

/** A doc fanned out to an LSH band (band = −1 is the verdict row). */
case class BandRow(doc_id: Long, source: String, stage: String,
    band: Int, bkey: String, sig: Seq[Long])

/** The full funnel's output: per-doc verdict rows (band = −1) plus
  * `neardup` flag rows per flagged band. */
case class FunnelRow(doc_id: Long, source: String, stage: String, band: Int)

private case class BandClaim(doc_id: Long, sig: Seq[Long])

/** Structured Streaming transforms over the SSE event stream — the
  * streaming-native form of the batch operators in graft.operators.Events.
  * The reference connector only forwards events; these are the stateful
  * upgrades Spark provides on top: watermarked windows, session state,
  * exactly-once dedup.
  *
  * All state is keyed and watermark-bounded, so state-store size is
  * O(active keys), not O(stream length) — the property that keeps these
  * runnable forever on an unbounded 100 TB/day stream.
  *
  * Each keyed stateful operator has one per-key rule ([[Rules]]) and two
  * drivers ([[KeyRule]]): the plain form runs on any state store with
  * `GroupState` timeouts; the `…Tws` form runs on `transformWithState`,
  * needs the RocksDB state-store provider and uses engine timers and TTL.
  */
object StreamOps {

  /** Full-µs event time: `getTime` carries milliseconds only, `getNanos`
    * the sub-second fraction — every keyed twin that orders or argmins on
    * event time MUST use this, because its batch counterpart orders on the
    * true microsecond timestamp (a `getTime`-only sort flips same-ms pairs
    * whose id order differs from µs order). */
  private[graft] def usOf(ts: Timestamp): Long =
    ts.getTime / 1000L * 1000000L + ts.getNanos / 1000L

  /** Inverse of [[usOf]]: rebuild a full-precision Timestamp from epoch
    * microseconds (floorDiv/floorMod so pre-1970 instants round the same
    * way `usOf` truncated them). */
  private[graft] def tsOfUs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Windowed counts per event type with a watermark: late events beyond
    * `lateness` are dropped and window state is reclaimed. `slide` defaults
    * to the window size (tumbling); a smaller slide gives the OVERLAPPING
    * form — the same native epoch-aligned window generator the batch
    * `ev_sliding_counts` runs, so batch and stream agree window-for-window
    * (slide parity spec). */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
      lateness: String = "1 hour", slide: String = null): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), window_,
        if (slide == null) window_ else slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))

  /** Gap-based sessionization via flatMapGroupsWithState: a session closes
    * when `gapSec` passes with no event (event-time, watermark-driven).
    * Emits closed sessions (append mode).
    *
    * The gap compares FLOOR-SECOND timestamps — exactly the batch
    * `ev_sessionize` rule (`unix_timestamp(ts) − unix_timestamp(prev) >
    * gapSec`), not raw milliseconds: a raw-ms gap closes a session the
    * batch window would merge whenever the sub-second parts straddle the
    * boundary (e.g. X.1 → X+gap.9 is gap·1000+800 ms but a floor-sec diff
    * of exactly gap). State carries full-µs instants ([[usOf]]) so the
    * emitted boundaries keep their precision; the eviction timer arms at
    * the LAST instant any event could still merge under the floor-sec
    * rule, (⌊last⌋ + gap + 1) s. */
  def sessionize(events: Dataset[StreamEvent], gapSec: Long = 1800L,
      lateness: String = "30 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    watermarked(events, lateness)(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(timedGroups(new SessionRule(gapSec)))
  }

  /** `events` watermarked on `ts` and grouped by `key`: the keyed input
    * both forms of an event-time operator share. */
  private def watermarked[E, K: Encoder](events: Dataset[E], lateness: String)(
      key: E => K): KeyValueGroupedDataset[K, E] =
    events.withWatermark("ts", lateness).groupByKey(key)

  /** Gap sessionization via Spark's NATIVE `session_window` aggregate —
    * the declarative twin of [[sessionize]], but with one boundary
    * divergence: native windows are half-open `[ts, ts+gap)`, so an event
    * arriving EXACTLY `gap` after the previous one starts a new session,
    * whereas [[sessionize]]'s fold merges it (`t - last <= gap`). Here the
    * engine owns the merging-session state (sessions that touch within the
    * gap merge inside the state store; a closed window emits once the
    * watermark passes its end). Prefer this form when per-session output
    * is aggregate-only — it keeps the whole pipeline in Catalyst; the
    * fMGWS form remains for custom per-event session logic. Window start =
    * first event, end = LAST EVENT + GAP (the standard session-window
    * convention — subtract the gap to recover the last event time). */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
      lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Streaming decontamination: probe each incoming document's shingles
    * against the Bloom filter a BATCH pass built
    * ([[graft.operators.Dedup.bloomFilterWords]]) — the ship-the-model
    * handoff: the filter words are embedded in the plan as a literal
    * array, so the stream side is a STATELESS projection (no join, no
    * state store, no watermark; append-mode trivially). This is how a
    * 100 TB ingest keeps eval contamination out in-flight: the filter is
    * m/62 longs however big the corpora are, and re-publishing a new
    * filter is a plan swap, not a stateful migration. Emits the same
    * (n_shingles, n_flagged) accounting as the batch
    * `docs_decontaminate_bloom`, so the two are parity-checkable. */
  def decontaminateStream(docs: DataFrame, filterWords: Seq[Long],
      mBits: Int = 65536): DataFrame = {
    import graft.functions.Kernels.{bloomContains, shingles3, tokens}
    docs
      .select(col("doc_id"), array_distinct(shingles3(tokens(col("text")))).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n_shingles"),
        size(filter(col("sh"), s => bloomContains(s, filterWords, mBits))).as("n_flagged"))
  }

  /** Streaming k-means/IVF cell assignment — the "ship the model to the
    * stream" step for the vector family: a BATCH pass trains/publishes the
    * coarse-quantizer codebook
    * ([[graft.operators.Similarity.centroidMatrixLocal]], \|cells\|×dims
    * doubles), and each incoming embedding is assigned to its nearest
    * centroid by the SAME codegen'd rounded-cosine argmax kernel the batch
    * `ivfAssignments` uses ([[graft.functions.Kernels.nearestCell]]) over
    * the codebook embedded as a plan LITERAL. STATELESS — no join, no
    * state store, no watermark; append-mode trivially. At 100 TB/day this
    * is how fresh vectors join the IVF index in-flight: assignment rides
    * the ingest map stage, and publishing a re-trained codebook is a plan
    * swap, not a stateful migration (the [[decontaminateStream]] pattern
    * applied to embeddings). Parity: spec pins cell-for-cell agreement
    * with the batch assignment on the same vectors. */
  def assignCellsStream(vecs: DataFrame, cents: Seq[Seq[Double]]): DataFrame = {
    import graft.functions.Kernels.nearestCell
    vecs.select(col("vec_id"),
      nearestCell(col("e").cast("array<double>"), typedLit(cents)).as("cell"))
  }

  /** Streaming typed-schema projection of the SSE payload — the reference's
    * actual consumption pattern on its flagship stream: deserialize `data`
    * against the published schema (reference
    * config/wikimedia.recentchange.schema.json) into a typed record the
    * moment it leaves the wire. Takes the DSv2 SSE source's
    * (event, id, data) frame schema (graft.sources.sse.SseTable.Schema)
    * and projects `data` through `from_json` with the SAME explicit
    * StructType the batch `sse_project` row uses
    * ([[graft.operators.Events.payloadSchema]]), so batch and stream parse
    * against one contract. STATELESS (no state store, no watermark;
    * append-mode trivially): at 100 TB/day the parse rides the ingest
    * map stage and the typed columns flow straight into any downstream
    * watermarked aggregate. */
  def projectPayload(frames: DataFrame): DataFrame =
    frames
      .select(col("event"), col("id"),
        from_json(col("data"), graft.operators.Events.payloadSchema).as("rec"))
      .select(col("event"), col("id"),
        col("rec.meta.stream").as("stream"),
        col("rec.meta.dt").as("dt"),
        col("rec.type").as("type"),
        col("rec.title").as("title"),
        col("rec.namespace").as("namespace"),
        col("rec.bot").as("bot"),
        (col("rec.length.new") - col("rec.length.old")).as("delta"))

  /** Exactly-once dedup by event id within the watermark horizon — the
    * streaming form of log-compaction/upsert. */
  def dedupById(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events.withWatermark("ts", lateness).dropDuplicates("event_id", "ts")

  /** Streaming anomaly detection: per-type running mean/variance (Welford's
    * online update — numerically stable, O(1) per event) held in keyed
    * state; an event whose |z| vs the stats accumulated BEFORE it exceeds
    * `zThreshold` (after a `minN` warm-up) is emitted immediately. The
    * streaming form of the batch `ev_anomalies` profile: state is O(#event
    * types) — constant — so this runs forever on an unbounded stream. */
  def anomalies(events: Dataset[StreamEvent], minN: Long = 30,
      zThreshold: Double = 3.0): Dataset[Anomaly] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[TypeStats, Anomaly](OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(groups(new AnomalyRule(minN, zThreshold)))
  }

  /** Watermarked stream-stream interval join: each purchase matched to the
    * same user's clicks from the preceding hour. Both sides carry
    * watermarks and the join condition bounds event-time distance, so the
    * engine can expire join state — the requirement that keeps a
    * stream-stream join runnable forever (state is O(events within the
    * interval), not O(stream)). */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
      lateness: String = "1 hour"): DataFrame = {
    val c = clicks.withWatermark("ts", lateness)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
    val p = purchases.withWatermark("ts", lateness)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    p.join(c,
      col("c_user") === col("p_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("p_user").as("user_id"), col("purchase_ts"),
        col("purchase_value"), col("click_ts"), col("click_value"))
  }

  /** Streaming KMV distinct-count sketch per event type: keyed state holds
    * the k smallest md5-derived user hashes (same hash as the batch
    * `ev_distinct_sketch`, so batch and stream estimates agree on the same
    * data); each batch emits the type's refreshed estimate. State is O(k)
    * per type — constant — and the sketch is a set union, so replayed
    * events are idempotent. */
  def distinctSketch(events: Dataset[StreamEvent], k: Int = 64): Dataset[DistinctEstimate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .mapGroupsWithState[KmvSketch, DistinctEstimate](
        GroupStateTimeout.NoTimeout())(group(new KmvRule(k)))
  }

  /** JVM mirror of Kernels.hash31 (first 8 md5 hex digits mod 2^31−1) —
    * the batch and streaming sketches must hash identically. */
  private[streaming] def hash31(s: String): Long = {
    val dig = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val v = ((dig(0) & 0xFFL) << 24) | ((dig(1) & 0xFFL) << 16) |
      ((dig(2) & 0xFFL) << 8) | (dig(3) & 0xFFL)
    v % 2147483647L
  }

  /** JVM mirror of Kernels.hash60 (first 15 md5 hex digits = 60 bits). */
  private[streaming] def hash60(s: String): Long = {
    val dig = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // 15 hex digits = first 7 bytes + the high nibble of byte 8
    val top14 = (0 until 7).foldLeft(0L)((acc, i) => (acc << 8) | (dig(i) & 0xFFL))
    (top14 << 4) | ((dig(7) & 0xF0L) >> 4)
  }

  /** Streaming HyperLogLog distinct-count sketch per event type: keyed
    * state holds the 64 registers of the batch
    * [[graft.operators.Events.hllDistinct]] (same md5-derived hash, same
    * bucket/rho arithmetic — parity spec-pinned), merged by register max
    * each batch. State is 64 small ints per type — constant — and
    * max-merge makes the sketch IDEMPOTENT under replay: re-delivered
    * events cannot move the estimate, the property a counter lacks. The
    * integer harmonic sum and the fixed-order float finish reproduce the
    * batch estimate exactly on the same data. */
  def hllSketch(events: Dataset[StreamEvent]): Dataset[HllEstimate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .mapGroupsWithState[HllState, HllEstimate](GroupStateTimeout.NoTimeout())(group(HllRule))
  }

  /** Streaming log-linear quantile sketch per event type: keyed state holds
    * the (bucket → count) map of graft.operators.Events.quantileSketchCounts
    * (same integer bucketing — [[bucket31]] mirrors it exactly, parity
    * spec-pinned), merged by count summation each batch — the associativity
    * the batch sketch's merge spec proves is what makes the state update
    * correct under any batch split. State is O(\|buckets\|) per type,
    * bounded by the VALUE RANGE, not the stream length; each batch emits
    * refreshed p50/p99 estimates identical to the batch query's on the same
    * events. */
  def quantileSketch(events: Dataset[StreamEvent]): Dataset[QuantileEstimate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .mapGroupsWithState[Map[Long, Long], QuantileEstimate](
        GroupStateTimeout.NoTimeout())(group(quantiles))
  }

  /** JVM mirror of the batch sketch's integer log-linear bucketing
    * (Events.quantileSketchCounts: octave = bit length of the cent value,
    * 16 linear sub-buckets) — batch and streaming sketches MUST bucket
    * identically; QuantileSketchSpec pins the parity on real data. Cent
    * values below 1 (zero/negative inputs) clamp into the lowest bucket —
    * the underflow bucket — in BOTH engines, so every operand stays
    * non-negative and no floor-vs-truncate division divergence can occur. */
  private[graft] def bucket31(v: Double): Long = {
    val m = graft.operators.Events.QuantileSketchSubBuckets
    val vc = math.max(math.floor(v * 100.0 + 0.5).toLong, 1L)
    val e = 64 - java.lang.Long.numberOfLeadingZeros(vc) // bit length (vc >= 1)
    val lo = 1L << (e - 1)
    (e.toLong - 1L) * m + (vc - lo) * m / lo
  }

  /** Quantile estimate off a bucket-count map: midpoint of the bucket where
    * the cumulative count crosses ceil(q·n) — same rank rule and midpoint
    * arithmetic as the batch query (round-4, HALF_UP). */
  private[graft] def sketchQuantile(m: Map[Long, Long], n: Long, q: Double): Double = {
    val sb = graft.operators.Events.QuantileSketchSubBuckets
    val r = math.ceil(q * n).toLong
    var cum = 0L
    var idx = m.keysIterator.min
    for ((b, c) <- m.toSeq.sortBy(_._1) if cum < r) { cum += c; idx = b }
    val lo = 1L << (idx / sb).toInt
    val est = (lo + ((idx % sb) + 0.5) * lo / sb.toDouble) / 100.0
    java.math.BigDecimal.valueOf(est).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** Streaming funnel: per user, the ordered step sequence (default
    * signup → click → purchase, each step at or after the previous step's
    * time) tracked in keyed state; a conversion is emitted EXACTLY ONCE,
    * the moment the final step lands — the streaming twin of the batch
    * `ev_funnel`'s first-signup → first-click-after → first-purchase-after
    * chain. State is one timestamp per step plus a done flag — O(steps)
    * per user — and a completed funnel ignores further events, so replays
    * cannot double-count a conversion.
    *
    * The KEY SET is bounded too: event-time timeout evicts any user with
    * no funnel-step activity for `ttlHours` (default 90 days), so on an
    * unbounded stream state is O(recently-active users), not O(users ever
    * seen). Eviction semantics are documented at the timeout branch. */
  def funnel(events: Dataset[StreamEvent],
      steps: Seq[String] = Seq("signup", "click", "purchase"),
      lateness: String = "1 hour",
      ttlHours: Long = 2160L): Dataset[Conversion] = {
    import events.sparkSession.implicits._
    funnelSteps(events, steps, lateness)
      .flatMapGroupsWithState[FunnelState, Conversion](OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(
        timedGroups(new FunnelRule(steps, ttlHours * 3600000L)))
  }

  /** The funnel's keyed input: watermarked step events by user. */
  private def funnelSteps(events: Dataset[StreamEvent], steps: Seq[String],
      lateness: String): KeyValueGroupedDataset[Long, StreamEvent] = {
    import events.sparkSession.implicits._
    val stepSet = steps.toSet
    watermarked(events.filter(e => stepSet.contains(e.event_type)), lateness)(_.user_id)
  }

  /** [[funnel]] on `transformWithState` — the port that exercises the
    * THIRD typed state primitive: step times live in a TWS
    * `ListState[Long]` (append-only per landed step — RocksDB appends an
    * entry instead of re-serializing the whole sequence, the same
    * per-entry win [[Rules.BitmapDistinctProcessor]] gets from `MapState`),
    * the done flag in a `ValueState[Boolean]`, and the dormancy TTL on
    * an engine event-time timer re-armed at last-activity + TTL (the
    * one-timer-per-key pattern) whose expiry clears all three state
    * variables — same eviction semantics as the fMGWS twin's
    * `hasTimedOut` branch: a re-admitted user restarts from scratch.
    * Same ordering (true-µs + step-index tiebreak), at-or-after chain
    * and exactly-once conversion contract; parity + TTL specs on
    * RocksDB. */
  def funnelTws(events: Dataset[StreamEvent],
      steps: Seq[String] = Seq("signup", "click", "purchase"),
      lateness: String = "1 hour",
      ttlHours: Long = 2160L): Dataset[Conversion] = {
    import events.sparkSession.implicits._
    funnelSteps(events, steps, lateness).transformWithState(
      new TimedProcessor(new FunnelRule(steps, ttlHours * 3600000L), funnelStore),
      TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming event-time disorder monitor — the live twin of the batch
    * `ev_lateness` audit: keyed state per event type holds the running
    * event-time maximum (exactly what a watermark tracks) plus cumulative
    * late counts; each batch emits the refreshed disorder profile, so an
    * operator can see out-of-order pressure building BEFORE a watermark
    * delay starts dropping data. State is three numbers per type —
    * constant — and arrival order inside a batch is made deterministic by
    * the same (ts, user) sort the other stateful ops use. */
  def latenessMonitor(events: Dataset[StreamEvent]): Dataset[LatenessProfile] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .mapGroupsWithState[LateState, LatenessProfile](
        GroupStateTimeout.NoTimeout())(group(LatenessRule))
  }

  /** Streaming heavy hitters per event type (Misra–Gries): keyed state
    * holds at most k (user → lower-bound count) counters — a new user past
    * the budget decrements ALL counters instead of growing state, so
    * memory is O(k) per type forever, the property an exact per-user count
    * (O(users)) lacks on an unbounded stream.
    *
    * The classic guarantees survive batching/merging and are what the spec
    * pins (bit-level state depends on arrival order, the guarantees do
    * not): every user with true count > n/(k+1) IS tracked, and each
    * tracked counter is a lower bound within n/(k+1) of the true count.
    * Each batch emits the refreshed per-type summary, counters sorted by
    * (count desc, user asc). */
  def heavyHitters(events: Dataset[StreamEvent], k: Int = 8): Dataset[HeavyHittersProfile] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .mapGroupsWithState[HhState, HeavyHittersProfile](
        GroupStateTimeout.NoTimeout())(group(new HeavyHitterRule(k)))
  }

  /** [[heavyHitters]] on Spark 4's `transformWithState` — the Misra–Gries
    * sketch with its counters in a TWS `MapState[user → count]` instead of
    * one opaque fMGWS value: RocksDB persists each tracked user as its own
    * store entry, so the common batch (all arrivals already tracked or
    * budget free) writes only the touched entries; only the rare
    * budget-full DECREMENT step touches all ≤ k entries — and k is the
    * sketch geometry, so even that is O(k), never O(stream keys). The
    * stream count n rides a separate `ValueState`. Same per-batch
    * (true-µs, user) arrival order and [[mgUpdate]] fold as the fMGWS
    * form; the parity spec pins both profiles equal across a mid-stream
    * split on RocksDB. */
  def heavyHittersTws(events: Dataset[StreamEvent], k: Int = 8): Dataset[HeavyHittersProfile] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type).transformWithState(
      new RuleProcessor(new HeavyHitterRule(k), heavyHitterStore),
      TimeMode.None(), OutputMode.Update())
  }

  /** One Misra–Gries counter update — the whole algorithm, exposed so a
    * property suite can fold it over arbitrary streams and check the
    * guarantees (every item with count > n/(k+1) tracked; counters are
    * lower bounds within n/(k+1)) hold for ALL inputs, not just the
    * events corpus. */
  private[graft] def mgUpdate(counters: Map[Long, Long], k: Int, u: Long): Map[Long, Long] =
    counters.get(u) match {
      case Some(c) => counters.updated(u, c + 1)
      case None if counters.size < k => counters.updated(u, 1L)
      case None => // budget full: decrement everything, drop zeros
        counters.map { case (uu, c) => uu -> (c - 1) }.filter(_._2 > 0)
    }

  /** Topic routing for the streaming sink — the reference's core job
    * (SSE record → topic, ServerSentEventsSourceTask.java:108-135),
    * Spark-native: a `topic` column to `partitionBy` at the sink, so each
    * topic lands in its own directory/partition stream. */
  def routeToTopics(events: DataFrame): DataFrame =
    events.withColumn("topic", concat(lit("sse_"), col("event_type")))

  /** Streaming Count-Min sketch — the in-flight twin of the batch
    * `ev_count_min`: keyed state per hash row j is that row's
    * bucket→count map (≤ width entries — bounded by the SKETCH geometry,
    * never the key cardinality, the property that lets a frequency
    * monitor run forever on an unbounded stream). Same row-salted
    * [[hash31]] arithmetic as the batch sketch, and counter merge is pure
    * addition, so after any batch split the streaming counters equal the
    * batch sketch bit-for-bit (parity spec). Emits each row's counters
    * every batch (update mode); probing min_j counters[hj(u)] is the
    * reader's side, identical to batch. */
  def countMinStream(events: Dataset[StreamEvent], depth: Int = 4,
      width: Int = 512): Dataset[CmRowState] = {
    import events.sparkSession.implicits._
    cmRows(events, depth, width)
      .mapGroupsWithState[Map[Int, Long], CmRowState](
        GroupStateTimeout.NoTimeout())(group(countMinRow))
  }

  /** The Count-Min keyed input: each event's (row j, bucket) pair per hash
    * row, the row-salted [[hash31]] of the batch sketch, grouped by row. */
  private def cmRows(events: Dataset[StreamEvent], depth: Int,
      width: Int): KeyValueGroupedDataset[Int, (Int, Int)] = {
    import events.sparkSession.implicits._
    events
      .flatMap(e => (0 until depth).map(j =>
        (j, (StreamOps.hash31(s"$j:${e.user_id}") % width).toInt)))
      .groupByKey(_._1)
  }

  /** Streaming last-touch attribution — the in-flight twin of the batch
    * `ev_attribution`: per-user state is the latest click/view timestamp
    * pair (two longs — O(1), the streaming form of the batch query's two
    * conditional running maxima), and each arriving purchase emits its
    * attributed channel immediately (append mode). Same 24 h lookback and
    * click-wins-ties rule as the batch row, pinned by the parity spec;
    * same per-key in-order assumption as [[scd2Stream]]/[[funnel]].
    *
    * The key set is bounded LOSSLESSLY: event-time timeout evicts a user
    * once the watermark passes their last touch + lookback — at which
    * point every surviving touch is outside the horizon, so any on-time
    * purchase would attribute "none" with or without the state (only a
    * purchase already later than the watermark could tell the
    * difference). State is O(users touched within the lookback window),
    * the minimum any exact attribution can hold. */
  def attributionStream(events: Dataset[ChangeEvent],
      lookbackHours: Int = 24,
      lateness: String = "1 hour"): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    watermarked(events, lateness)(_.user_id)
      .flatMapGroupsWithState[TouchState, Attribution](OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(timedGroups(new TouchRule(lookbackHours)))
  }

  /** [[attributionStream]] on Spark 4's `transformWithState` — last-touch
    * attribution's two-timestamp state in a typed `ValueState[TouchState]`
    * with the SAME lossless event-time eviction: an engine timer re-armed
    * at max(last event, watermark + 1) + lookback (the one-timer-per-key
    * delete/register pattern) clears a user once every surviving touch is
    * outside the horizon — the exact fMGWS `setTimeoutTimestamp` instant.
    * Same (true-µs, event_id) fold, 24 h lookback, and click-wins-ties
    * rule; parity spec pins the attributions bit-for-bit equal to the
    * fMGWS twin on a split feed on RocksDB. */
  def attributionStreamTws(events: Dataset[ChangeEvent],
      lookbackHours: Int = 24,
      lateness: String = "1 hour"): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    watermarked(events, lateness)(_.user_id).transformWithState(
      new TimedProcessor(new TouchRule(lookbackHours),
        KeyRule.value("touch", Encoders.product[TouchState])),
      TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming SCD-2 compaction — the in-flight twin of the batch
    * `ev_scd2`: per-key state is ONE open interval (version, status,
    * count, start — O(1) per user, not O(history)), and a status change
    * closes the previous interval exactly once (append mode). This is the
    * CDC→dimension maintenance a warehouse runs as periodic MERGEs,
    * running continuously instead; the closed intervals it emits are
    * byte-identical to the batch rows with a non-null valid_to, which the
    * parity spec pins. Same micro-batch ordering rule as the batch window
    * (sort by ts, then event_id); like [[funnel]], correctness relies on
    * per-key event-time order across batches — feed it from a
    * per-partition-ordered source (the SSE source's frame order) or an
    * upstream watermarked sort.
    *
    * Dormancy flush bounds the key set: a user silent for `ttlHours` of
    * event time has their open interval FLUSHED as a closed row —
    * valid_to = their last observed event second (the interval is closed
    * at its last evidence, not at the arbitrary eviction instant) — and
    * the state dropped. A re-admitted user opens a fresh version-1
    * interval; downstream dimension consumers key on (user_id,
    * valid_from), for which version restart is invisible. The default
    * 90-day TTL keeps every parity spec lossless. */
  def scd2Stream(events: Dataset[ChangeEvent],
      lateness: String = "1 hour",
      ttlHours: Long = 2160L): Dataset[Scd2Interval] = {
    import events.sparkSession.implicits._
    watermarked(events, lateness)(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Interval](OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(timedGroups(new Scd2Rule(ttlHours * 3600000L)))
  }

  /** Gap sessionization on Spark 4's `transformWithState` with EVENT-TIME
    * TIMERS — [[sessionize]]'s rule with session state as ONE
    * `ValueState` per user (n, sum, start-µs, last-µs) and the close on an
    * engine-managed event-time timer ([[OneTimer]]) armed at the LAST
    * instant any event could still merge under the batch floor-second gap
    * rule, (⌊last⌋ + gap + 1) s — exactly [[sessionize]]'s
    * `setTimeoutTimestamp` instant. Same semantics contract: µs-sorted
    * intra-batch fold, floor-second gap compare (a raw-ms gap would split
    * sessions the batch merges), closed sessions in append mode with
    * full-µs boundaries. Timers live in the checkpointed RocksDB store, so
    * a close armed before a shutdown fires after the restart — the spec
    * drives exactly that. */
  def sessionizeTws(events: Dataset[StreamEvent], gapSec: Long = 1800L,
      lateness: String = "30 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    watermarked(events, lateness)(_.user_id).transformWithState(
      new TimedProcessor(new SessionRule(gapSec),
        KeyRule.value("session", Encoders.product[SessionState])),
      TimeMode.EventTime(), OutputMode.Append())
  }

  /** SCD-2 compaction on Spark 4's `transformWithState` with EVENT-TIME
    * TIMERS — the same closed-interval semantics as [[scd2Stream]] (one
    * open interval per user, O(1) state, closed rows byte-identical to the
    * batch `ev_scd2`), but the dormancy flush is an engine-managed
    * event-time TIMER instead of the fMGWS `EventTimeTimeout` hand-roll:
    * each input batch re-arms the user's flush timer at last-evidence +
    * `ttlHours`, and when the watermark passes that instant the engine
    * calls `handleExpiredTimer`, which emits the open interval closed at
    * its last observed second and clears the state. Timers live in the
    * checkpointed RocksDB store, so a flush armed before a shutdown fires
    * after the restart — the spec drives exactly that. Requires the
    * RocksDB state-store provider. */
  def scd2StreamTws(events: Dataset[ChangeEvent],
      lateness: String = "1 hour",
      ttlHours: Long = 2160L): Dataset[Scd2Interval] = {
    import events.sparkSession.implicits._
    watermarked(events, lateness)(_.user_id).transformWithState(
      new TimedProcessor(new Scd2Rule(ttlHours * 3600000L),
        KeyRule.value("open", Encoders.product[Scd2State])),
      TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming 4-tap EWMA smoothing — the in-flight twin of the batch
    * `ev_ewma_hourly`: keyed state per event type is the last ≤4 OBSERVED
    * (hour, count) taps (O(1) forever — exactly the lag window the batch
    * query reads), each batch folds its events into the tap list (the
    * current hour's count keeps accumulating across micro-batches) and
    * re-emits the refreshed integer EWMA (weights 8/4/2/1, ×15 scale — no
    * float division, same closed form as the batch SQL) for every hour it
    * touched. Same per-key in-order event-time assumption as
    * [[scd2Stream]]/[[funnel]]; the latest emission per (type, hour) is
    * the batch row, pinned by the parity spec across a mid-stream split. */
  def ewmaStream(events: Dataset[StreamEvent]): Dataset[EwmaPoint] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[Seq[(Long, Long)], EwmaPoint](OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(groups(EwmaRule))
  }

  /** Streaming OHLC bars — the in-flight twin of the batch
    * `ev_ohlc_hourly`: keyed state per hour is the six-number bar
    * (open/close carry their (µs, event_id) argmin/argmax keys so
    * cross-batch ties resolve exactly like the batch's lexicographic
    * array min/max — O(1) per open hour, never per tick); each batch
    * folds its ticks in and re-emits the refreshed bar (append mode), so
    * the latest emission per hour IS the batch row once the hour closes
    * (parity spec across a mid-stream split). Integer cents throughout.
    *
    * CLOSED hours are evicted: once the watermark passes an hour's end no
    * on-time tick can still land in it, so the event-time timeout emits
    * the bar one final time and drops the cell — the same close-and-drop
    * rule as [[bitmapDistinctStream]] (each cell is O(1), but a year of
    * dead hour keys is still a year of dead state).
    *
    * BEHAVIOR CONTRACT (eviction's two visible consequences — shared with
    * [[bitmapDistinctStream]]): (1) the watermark DROPS late ticks — an
    * event later than `lateness` never reaches the state, so pick a
    * lateness that covers the source's real disorder (`ev_watermark_recommend` measures it);
    * (2) append output re-emits the FINAL bar from the eviction timer
    * even when a refreshed emission for the same hour already went out —
    * consumers must keep the LATEST emission per hour_ts (the parity
    * specs' dedup rule), not assume one row per hour. */
  def ohlcStream(ticks: Dataset[Tick],
      lateness: String = "1 hour"): Dataset[OhlcBar] = {
    import ticks.sparkSession.implicits._
    watermarked(ticks, lateness)(t => t.ts.getTime / 3600000L * 3600L)
      .flatMapGroupsWithState[OhlcState, OhlcBar](OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(timedGroups(OhlcRule))
  }

  /** [[ohlcStream]] on `transformWithState`: the per-hour bar in a typed
    * `ValueState[OhlcState]`, and finalize-and-drop on an engine
    * event-time timer ([[OneTimer]]) at the same instant. Same behavior
    * contract as the fMGWS form: late ticks beyond `lateness` drop; append
    * output carries refreshed bars AND the timer's final emission —
    * consumers keep the latest per hour. */
  def ohlcStreamTws(ticks: Dataset[Tick],
      lateness: String = "1 hour"): Dataset[OhlcBar] = {
    import ticks.sparkSession.implicits._
    watermarked(ticks, lateness)(t => t.ts.getTime / 3600000L * 3600L).transformWithState(
      new TimedProcessor(OhlcRule, KeyRule.value("bar", Encoders.product[OhlcState])),
      TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming schema-drift monitor — the in-flight twin of the batch
    * `sse_schema_infer`: the stateless half (key explode + regex shape
    * classifier — the SAME column expressions as the batch audit) rides
    * the ingest map stage; the keyed half accumulates a (shape → count)
    * map per JSON key in `mapGroupsWithState` — state O(\|keys\|×\|shapes\|),
    * bounded by the SCHEMA, never the stream — and re-emits the refreshed
    * per-key profile each batch, so an operator watches new keys or shape
    * flips appear live instead of at the next batch audit. Parity spec:
    * after a split feed the final profile equals the batch inventory. */
  def schemaInferStream(docs: DataFrame): Dataset[KeyShapeProfile] = {
    import docs.sparkSession.implicits._
    graft.operators.Events.keyShapeRows(docs).as[(String, String)].groupByKey(_._1)
      .mapGroupsWithState[Map[String, Long], KeyShapeProfile](
        GroupStateTimeout.NoTimeout())(group(keyShapes))
  }

  /** [[anomalies]] on `transformWithState`: Welford (n, mean, M2) in a
    * typed `ValueState`. */
  def anomaliesTws(events: Dataset[StreamEvent], minN: Long = 30,
      zThreshold: Double = 3.0): Dataset[Anomaly] =
    byType(events, new AnomalyRule(minN, zThreshold),
      KeyRule.value("stats", Encoders.product[TypeStats]), OutputMode.Append())

  /** The `…Tws` form of an untimed per-event-type rule: `events` grouped
    * by type into a [[RuleProcessor]] over `store`. */
  private def byType[S, O <: Product: TypeTag](events: Dataset[StreamEvent],
      rule: KeyRule[String, StreamEvent, S, O], store: KeyRule.MkStore[S],
      mode: OutputMode): Dataset[O] =
    events.groupByKey(_.event_type)(Encoders.STRING).transformWithState(
      new RuleProcessor(rule, store), TimeMode.None(), mode)(Encoders.product[O])

  /** [[distinctSketch]] on `transformWithState`: the k smallest hashes in
    * a typed `ValueState[KmvSketch]` (the sketch IS one value — k longs). */
  def distinctSketchTws(events: Dataset[StreamEvent],
      k: Int = 64): Dataset[DistinctEstimate] =
    byType(events, new KmvRule(k), KeyRule.value("kmv", Encoders.product[KmvSketch]),
      OutputMode.Update())

  /** [[hllSketch]] on `transformWithState`: the 64 registers in a
    * `MapState[bucket → rho]` — a batch writes only the registers it
    * RAISES (max-merge touches few once the sketch saturates), where the
    * fMGWS form re-serializes all 64 every batch. */
  def hllSketchTws(events: Dataset[StreamEvent]): Dataset[HllEstimate] =
    byType(events, HllRule, HllRule.store, OutputMode.Update())

  /** [[quantileSketch]] on `transformWithState`: the bucket→count map in a
    * `MapState` (per-bucket entries, count merge = per-entry add). */
  def quantileSketchTws(events: Dataset[StreamEvent]): Dataset[QuantileEstimate] =
    byType(events, quantiles,
      KeyRule.entries("buckets", Encoders.scalaLong, Encoders.scalaLong), OutputMode.Update())

  /** [[countMinStream]] on `transformWithState`: each hash row's counters
    * in a `MapState[bucket → count]` — bounded by the sketch width. */
  def countMinStreamTws(events: Dataset[StreamEvent], depth: Int = 4,
      width: Int = 512): Dataset[CmRowState] = {
    import events.sparkSession.implicits._
    cmRows(events, depth, width).transformWithState(
      new RuleProcessor(countMinRow,
        KeyRule.entries("counters", Encoders.scalaInt, Encoders.scalaLong)),
      TimeMode.None(), OutputMode.Update())
  }

  /** [[latenessMonitor]] on `transformWithState`: the O(1) lateness tuple
    * in a typed `ValueState[LateState]`. */
  def latenessMonitorTws(events: Dataset[StreamEvent]): Dataset[LatenessProfile] =
    byType(events, LatenessRule, KeyRule.value("late", Encoders.product[LateState]),
      OutputMode.Update())

  /** [[ewmaStream]] on `transformWithState`: the ≤4 carried taps in a
    * typed `ValueState[EwmaTaps]`. */
  def ewmaStreamTws(events: Dataset[StreamEvent]): Dataset[EwmaPoint] =
    byType(events, EwmaRule, EwmaRule.store, OutputMode.Append())

  /** [[burstStream]] on `transformWithState`: the closed-hour moment
    * triple + open hour in a typed `ValueState`. */
  def burstStreamTws(events: Dataset[StreamEvent]): Dataset[BurstVerdict] =
    byType(errors(events), BurstRule, KeyRule.value("burst", Encoders.product[BurstState]),
      OutputMode.Append())

  /** The burst monitor's input: error events only. */
  private def errors(events: Dataset[StreamEvent]): Dataset[StreamEvent] =
    events.filter(_.event_type == "error")

  /** [[schemaInferStream]] on `transformWithState`: the shape→count map in
    * a `MapState` — a drifting key writes one entry, not its whole map. */
  def schemaInferStreamTws(docs: DataFrame): Dataset[KeyShapeProfile] = {
    import docs.sparkSession.implicits._
    graft.operators.Events.keyShapeRows(docs).as[(String, String)].groupByKey(_._1)
      .transformWithState(new RuleProcessor(keyShapes,
        KeyRule.entries("shapes", Encoders.STRING, Encoders.scalaLong)),
        TimeMode.None(), OutputMode.Update())
  }

  /** Streaming error-burst monitor — the in-flight form of the batch
    * `ev_error_burst`, with the honest streaming semantics: an hour is
    * judged against the integer mean+3σ of the CLOSED hours seen so far
    * (prefix stats — a live monitor cannot consult the future the batch
    * audit averages over). Keyed state is O(1) forever: the (n, Σx, Σx²)
    * moment triple over closed hours plus the one open hour's running
    * count; a new hour closes the previous one, which is tested with the
    * SAME all-integer 3σ inequality as the batch row ((n·x−Σx)² >
    * 9·(n·Σx²−(Σx)²)) and folded into the moments. Same per-key in-order
    * event-time assumption as the other keyed twins; spec replays the
    * fold locally and pins every closed-hour verdict. */
  def burstStream(events: Dataset[StreamEvent]): Dataset[BurstVerdict] = {
    import events.sparkSession.implicits._
    errors(events).groupByKey(_.event_type)
      .flatMapGroupsWithState[BurstState, BurstVerdict](OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(groups(BurstRule))
  }

  /** Streaming DSIR scoring — ship-the-model for the text-selection
    * family: the BATCH pass trains the 128-bucket importance model
    * ([[graft.operators.Pipeline.dsirModelLocal]], ~1 KiB whatever the
    * corpus size) and the stream scores each arriving document in a
    * STATELESS projection — bucket every token with the shared md5
    * `hash31` kernel and sum the bucket log-weights embedded as a plan
    * LITERAL. No join, no state store, no watermark; re-training is a
    * plan swap (the [[decontaminateStream]]/[[assignCellsStream]] pattern
    * applied to importance resampling). Parity spec: per-doc scores match
    * the batch `dsirDocScores` within one round-4 step (the two sides sum
    * the same terms in different orders). */
  def dsirScoreStream(docs: DataFrame, bucketWeights: Seq[Double]): DataFrame = {
    import graft.functions.Kernels.tokens
    val nB = bucketWeights.size
    docs.select(col("doc_id"),
      round(aggregate(
        transform(tokens(col("text")),
          w => element_at(typedLit(bucketWeights),
            (pmod(graft.functions.Kernels.hash31(w), lit(nB.toLong)) + 1).cast("int"))),
        lit(0.0), (acc, x) => acc + x), 4).as("score"))
  }

  /** Streaming ingest funnel — the in-flight composition of the batch
    * `docs_pipeline_full`'s STATELESS stages, chained as ONE projection:
    * quality gate (same token-count/distinct-ratio rule) → Bloom
    * decontamination probe (the batch-published filter embedded as a plan
    * literal, [[decontaminateStream]]'s kernel) → DSIR importance score
    * ([[dsirScoreStream]]'s shipped 128-bucket model) → hashed-linear
    * quality-classifier band ([[graft.operators.Pipeline.qualityClassifier]]'s
    * exact integer arithmetic). No join, no state store, no watermark —
    * at 100 TB/day the whole funnel rides the ingest map stage, and
    * re-publishing any model (filter, weights) is a plan swap.
    *
    * Emits per doc: the funnel verdict `stage` ∈ quality \| contam \| kept
    * plus both scores. The two STATEFUL batch stages (exact dedup,
    * near-dup clustering) are deliberately absent — cross-document
    * identity needs corpus state and lives downstream (batch, or the
    * bounded-watermark streaming dedups); the parity contract is: any doc
    * the batch funnel labels quality/contam/kept gets the SAME label here,
    * and batch exact/neardup docs pass through as kept-or-contam for the
    * downstream dedup to adjudicate (the spec pins both on a split feed).
    * A doc with no shingles is never "contam" (the batch probe's ≥3-token
    * universe). */
  def ingestFunnelStream(docs: DataFrame, filterWords: Seq[Long],
      bucketWeights: Seq[Double], mBits: Int = 65536): DataFrame = {
    funnelStages(docs, filterWords, bucketWeights, mBits)
      .select(col("doc_id"), col("source"), col("stage"),
        col("nw"), col("n_sh"), col("n_flagged"), col("dsir_score"),
        col("clf_band"))
  }

  /** The stateless funnel verdicts plus the two dedup keys (md5 digest,
    * 32-hash MinHash signature) — the [[ingestFunnelFullStream]] input
    * frame, package-visible so the parity spec can run the SAME
    * projection in batch mode and replay the claim logic exactly. */
  private[streaming] def funnelStagedDocs(docs: DataFrame,
      filterWords: Seq[Long], bucketWeights: Seq[Double],
      mBits: Int): Dataset[StagedDoc] = {
    import docs.sparkSession.implicits._
    import graft.functions.Kernels.{shingles3, tokens}
    val sh = array_distinct(shingles3(tokens(col("text"))))
    val sigExpr = when(size(sh) > 0,
      transform(sequence(lit(0), lit(31)), k =>
        array_min(transform(sh, s => graft.functions.Kernels.hash31(
          concat(k.cast("string"), lit(" "), s))))))
      .otherwise(array().cast("array<long>"))
    funnelStages(docs, filterWords, bucketWeights, mBits)
      .select(col("doc_id"), col("source"), col("stage").as("stage0"),
        md5(col("text")).as("digest"), sigExpr.as("sig"))
      .as[StagedDoc]
  }

  /** The stateless funnel verdict columns, appended WITHOUT dropping the
    * caller's others — shared by [[ingestFunnelStream]] (which selects its
    * published contract) and [[ingestFunnelFullStream]] (which also needs
    * the dedup keys). */
  private def funnelStages(docs: DataFrame, filterWords: Seq[Long],
      bucketWeights: Seq[Double], mBits: Int): DataFrame = {
    import graft.functions.Kernels.{bloomContains, shingles3, tokens}
    val nB = bucketWeights.size
    val t = tokens(col("text"))
    docs
      .select(col("doc_id"), col("source"), col("text"),
        size(t).cast("long").as("nw"),
        size(array_distinct(t)).cast("long").as("nd"),
        array_distinct(shingles3(t)).as("sh"))
      .select(col("doc_id"), col("source"), col("text"), col("nw"), col("nd"),
        size(col("sh")).cast("long").as("n_sh"),
        size(filter(col("sh"), s => bloomContains(s, filterWords, mBits)))
          .cast("long").as("n_flagged"))
      .withColumn("kept_q", col("nw") >= 30 && col("nw") <= 80 &&
        col("nd").cast("double") / col("nw") >= 0.45)
      .withColumn("contaminated",
        col("n_sh") > 0 && col("n_flagged") * 2 >= col("n_sh"))
      .withColumn("dsir_score", round(aggregate(
        transform(tokens(col("text")),
          w => element_at(typedLit(bucketWeights),
            (pmod(graft.functions.Kernels.hash31(w), lit(nB.toLong)) + 1).cast("int"))),
        lit(0.0), (acc, x) => acc + x), 4))
      // the classifier's exact integer chain: token → md5 bucket →
      // (bucket · 2654435761) mod 2048 weight; band = (10·Σw) div (2048·n)
      .withColumn("clf_s", aggregate(
        transform(tokens(col("text")),
          // top 32 bits of the 60-bit md5 prefix == the first 8 hex digits
          w => (shiftright(graft.functions.Kernels.hash60(w), 28)
            % graft.operators.Pipeline.ClassifierBuckets) * 2654435761L % 2048L),
        lit(0L), (acc, x) => acc + x))
      .select(col("doc_id"), col("source"), col("text"),
        when(!col("kept_q"), "quality")
          .when(col("contaminated"), "contam")
          .otherwise("kept").as("stage"),
        col("nw"), col("n_sh"), col("n_flagged"), col("dsir_score"),
        when(col("nw") > 0, expr("(10 * clf_s) div (2048 * nw)"))
          .otherwise(lit(null)).as("clf_band"))
  }

  /** The FULL ingest funnel in-flight (`ingestFunnelFullStream`) —
    * [[ingestFunnelStream]]'s stateless stages composed with the two
    * deliberately-downstream STATEFUL stages, so every verdict of the
    * batch `docs_pipeline_full` contract (quality | exact | neardup |
    * contam | kept) is adjudicated on the stream:
    *
    *  1. stateless funnel (quality gate, Bloom contamination probe) — one
    *     projection, plus the md5 text digest and a 32-hash MinHash
    *     signature computed map-side (array lambdas — no explode, no
    *     shuffle).
    *  2. EXACT stage: [[ExactClaimProcessor]] keyed by the digest — the
    *     LABELING twin of [[dedupWithinWatermark]]: the first arrival
    *     claims the digest and keeps its verdict, every later copy is
    *     emitted labeled `exact` (dropDuplicatesWithinWatermark would
    *     silently drop them; a funnel must account). Bounded state via
    *     native TWS TTL, as [[transitionStreamTws]] uses.
    *  3. NEAR-DUP probe: each surviving doc fans out to 8 LSH bands
    *     (4 signature hashes each); [[BandClaimProcessor]] keyed by
    *     (band, band-hash) lets the first doc claim the bucket with its
    *     full signature, and flags any later collider whose
    *     signature-estimated Jaccard (matching positions / 32) ≥ 1/2 —
    *     state per bucket is one doc_id + 32 longs, never a shingle set.
    *
    * Output: per-doc verdict rows (band = −1) plus `neardup` flag rows
    * (band = k) for flagged colliders; the consumer's reduction is
    * "any neardup row overrides the doc's verdict row" with the batch
    * precedence quality > exact > neardup > contam > kept (the split-feed
    * spec pins label-for-label parity against `docs_pipeline_full` on the
    * planted-family corpus). Arrival order is canonical order — feed in
    * doc_id order to reproduce the batch's min-id canonicals. At 100 TB/
    * day the stateless stages ride the ingest map stage; the two keyed
    * stages shuffle once each on model-free keys with TTL-bounded
    * stores. */
  def ingestFunnelFullStream(docs: DataFrame, filterWords: Seq[Long],
      bucketWeights: Seq[Double], mBits: Int = 65536,
      ttl: java.time.Duration = null): Dataset[FunnelRow] = {
    import docs.sparkSession.implicits._
    val afterExact = funnelStagedDocs(docs, filterWords, bucketWeights, mBits)
      .groupByKey(_.digest)
      .transformWithState(new ExactClaimProcessor(ttl),
        TimeMode.ProcessingTime(),
        OutputMode.Append())
    afterExact
      .flatMap { d =>
        // verdict rows key on the doc id itself — unique per doc, so the
        // passthrough branch never concentrates on one hot key
        val base = BandRow(d.doc_id, d.source, d.stage0, -1,
          d.doc_id.toString, Seq.empty)
        if (d.stage0 == "quality" || d.stage0 == "exact" || d.sig.isEmpty)
          Seq(base)
        else base +: (0 until 8).map { b =>
          val bkey = d.sig.slice(b * 4, b * 4 + 4).mkString(",")
          BandRow(d.doc_id, d.source, d.stage0, b, bkey, d.sig)
        }
      }
      .groupByKey(r => (r.band, r.bkey))
      .transformWithState(new BandClaimProcessor(ttl),
        TimeMode.ProcessingTime(),
        OutputMode.Append())
  }

  /** Streaming CUSUM change-point monitor — the in-flight twin of the batch
    * `ev_changepoint`, in ship-the-model form: the batch run publishes each
    * type's mean hourly rate (the CUSUM reference k — a \|types\|-sized
    * model), the stream tracks Page's statistic against it live. Per-type
    * state is O(1) FOREVER: the open hour's count plus the (prefix sum,
    * running min, max drift, drift hour, closed hours) tuple — never a
    * series. An hour closes when a later-hour event of the same type
    * arrives, so the closed-hour universe is exactly the batch operator's
    * (which excludes each type's trailing open hour) and the parity spec
    * pins the final emission equal to the batch row. Emits the refreshed
    * verdict per batch (update semantics downstream). */
  def cusumStream(events: Dataset[StreamEvent],
      refMeans: Map[String, Long]): Dataset[CusumPoint] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumPoint](OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(groups(new CusumRule(refMeans)))
  }

  /** [[cusumStream]] on Spark 4's `transformWithState`: the CUSUM
    * monitor's 7-long state tuple in a typed `ValueState`; the parity spec
    * pins it across a mid-stream split on RocksDB, including an hour
    * spanning the boundary. */
  def cusumStreamTws(events: Dataset[StreamEvent],
      refMeans: Map[String, Long]): Dataset[CusumPoint] =
    byType(events, new CusumRule(refMeans),
      KeyRule.value("cusum", Encoders.product[CusumState]), OutputMode.Append())

  /** Native bounded-state streaming dedup — Spark's
    * `dropDuplicatesWithinWatermark`: duplicates of an event id arriving
    * within the watermark delay are dropped, and state for ids older than
    * the watermark is RECLAIMED — the production form of [[dedupById]]
    * (whose keep-forever key set grows without bound on an infinite
    * stream). The reference connector forwards each SSE event id at most
    * once per reconnect window; this is that guarantee with bounded
    * state. */
  def dedupWithinWatermark(events: DataFrame,
      lateness: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming bitmap exact-distinct (`StreamOps.bitmapDistinctStream`) —
    * the in-flight twin of batch `ev_bitmap_distinct`: per (day, type)
    * the state is the word→bits map of the 62-bit user bitmap — bounded
    * by ⌈users/62⌉ per key, 62× smaller than the user set a naive
    * streaming countDistinct would hold, and the merge is pure `bit_or`
    * (idempotent: replayed events cannot double-count, unlike a counter).
    * Emits the refreshed popcount per batch; the parity spec pins the
    * final emission per cell equal to the batch operator's exact count
    * after a split feed.
    *
    * FINALIZED cells are evicted: each (day, type) bitmap is the heaviest
    * state in the library (O(users/62) longs per cell) and day keys would
    * otherwise accrete forever. Once the watermark passes the cell's day
    * end, no on-time event can still land in it — the event-time timeout
    * emits the cell's FINAL popcount once more and drops the bitmap, so
    * steady-state store size is O(open days × types), never O(history).
    * The timeout fires at max(day end, watermark + 1): a cell first
    * touched by a late-but-in-watermark event whose day already closed
    * finalizes on the next watermark advance.
    *
    * BEHAVIOR CONTRACT (same as [[ohlcStream]]): the watermark DROPS
    * events later than `lateness` (they are silently absent from the
    * count — set the lateness from measured disorder), and append output
    * carries BOTH per-batch refreshed counts and the timer's final row
    * per cell — consumers keep the latest emission per (day, type). */
  def bitmapDistinctStream(events: Dataset[StreamEvent],
      lateness: String = "1 hour"): Dataset[BitmapCell] = {
    import events.sparkSession.implicits._
    watermarked(events, lateness)(e => (e.ts.getTime / 86400000L, e.event_type))
      .flatMapGroupsWithState[Map[Long, Long], BitmapCell](OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(timedGroups(BitmapRule))
  }

  /** [[bitmapDistinctStream]] on Spark 4's `transformWithState` — the
    * modern-API migration applied to the operator that stresses the state
    * store MOST: the per-cell bitmap is the library's heaviest state
    * (O(users/62) longs per (day, type)), and the fMGWS form re-serializes
    * the WHOLE word map on every update because the legacy API holds one
    * opaque state value per key. Here the bitmap lives in a TWS
    * `MapState[word → bits]` — RocksDB persists each word as its own
    * store entry, so a batch that touches w words writes w entries, not
    * the whole map — and the (n_words, distinct) pair rides a separate
    * `ValueState` updated INCREMENTALLY as bits first appear, so emitting
    * a refreshed count never scans the map (the fMGWS twin popcounts the
    * full map per batch). Finalized-cell eviction keeps the fMGWS twin's
    * exact rule via an event-time TIMER re-armed at
    * max(day end, watermark + 1) ([[OneTimer]]): when it fires, the cell
    * emits its final count once more and ALL three state variables clear. Same behavior contract as
    * [[bitmapDistinctStream]] (late events beyond `lateness` are dropped;
    * append output needs latest-emission-per-cell); parity + eviction +
    * checkpointed-restart specs pin it on RocksDB. */
  def bitmapDistinctStreamTws(events: Dataset[StreamEvent],
      lateness: String = "1 hour"): Dataset[BitmapCell] = {
    import events.sparkSession.implicits._
    watermarked(events, lateness)(e => (e.ts.getTime / 86400000L, e.event_type))
      .transformWithState(new BitmapDistinctProcessor(),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming gap-octave monitor — the in-flight twin of the batch
    * `ev_gap_histogram`, BY COMPOSITION: [[transitionStream]] already
    * carries every per-user dwell gap (O(1) last-event state), so the
    * octave view is a stateless projection on its output — the same
    * `length(bin(gap_s + 1))` bucketing as the batch SQL; a downstream
    * streaming agg keeps the live histogram. Parity spec pins per
    * (type, bucket) counts equal to the batch operator across a
    * mid-stream split. */
  def gapOctaveStream(events: Dataset[ChangeEvent]): DataFrame =
    transitionStream(events).toDF()
      .select(col("to_type").as("event_type"),
        length(bin(expr("gap_us div 1000000 + 1"))).cast("long").as("bucket"))

  /** The transition monitor on Spark 4's `transformWithState` API — the
    * SAME semantics as [[transitionStream]] (O(1) last-event state per
    * user, one edge emitted per arriving event) expressed as a
    * [[org.apache.spark.sql.streaming.StatefulProcessor]] with a typed
    * `ValueState`: the modern stateful-processing surface (RocksDB state
    * store, state TTL, timers, state-variable evolution) the fMGWS API
    * predates. Kept beside the fMGWS form deliberately — the parity spec
    * pins both to the batch operator, proving the engine-level migration
    * path leaves results bit-identical. Requires the RocksDB state-store
    * provider (TWS rejects the default HDFS-backed store).
    *
    * A non-null `ttl` (processing-time, the TTL dimension TWS natively
    * supports) bounds the key set: the store expires a user's `last` value
    * `ttl` after its final update, after which their next event opens a
    * fresh chain (no edge) — same re-admission semantics as the fMGWS
    * twin's event-time eviction, enforced by the ENGINE instead of user
    * code. TTL requires `TimeMode.ProcessingTime`, under which the engine
    * keeps scheduling timer micro-batches even with no data — correct on a
    * production trigger, but it never settles under `processAllAvailable`,
    * so the TTL spec drives it with `Trigger.AvailableNow` restarts over a
    * shared checkpoint; `ttl = null` keeps the timer-free `TimeMode.None`
    * plan for always-on parity twins. */
  def transitionStreamTws(events: Dataset[ChangeEvent],
      ttl: java.time.Duration = null): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id).transformWithState(
      new RuleProcessor(new TransitionRule(), lastEvent(ttl)),
      if (ttl == null) TimeMode.None() else TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** STATE-EVOLUTION twin of [[transitionStreamTws]] — the processor a team
    * deploys as an UPGRADE against a checkpoint the V1 processor has been
    * writing: the `last` state variable's class gains a cumulative edge
    * counter ([[LastEventV2]] adds `n_edges: Option[Long]` — nullable, the
    * Avro-evolvable shape). Restarting the same checkpoint under the new
    * schema is legal only when the state store was created with the Avro
    * encoding (`spark.sql.streaming.stateStore.encodingFormat=avro`, set
    * BEFORE the first run; the default UnsafeRow encoding pins the state
    * schema for the checkpoint's lifetime): on read, Avro schema evolution
    * fills the added field with null, the processor treats None as "counter
    * starts now", and V1-written last-events still chain — no edge is lost
    * across the upgrade. Output adds `cum_edges` so the evolved field is
    * observable downstream. The spec drives the actual operational
    * sequence: run V1 → stop → resume V2 on the same checkpoint. */
  def transitionStreamTwsV2(events: Dataset[ChangeEvent]): Dataset[TransitionV2] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id).transformWithState(
      new RuleProcessor(TransitionV2Rule, KeyRule.value("last", Encoders.product[LastEventV2])),
      TimeMode.None(), OutputMode.Append())
  }

  /** WARM-START twin of [[transitionStreamTws]] — the batch→streaming
    * cutover: the per-user `last` state is seeded from a batch snapshot
    * (each user's final event in the history table, one [[UserLastEvent]]
    * row per user) through TWS's initial-state surface
    * ([[org.apache.spark.sql.streaming.StatefulProcessorWithInitialState]]
    * .handleInitialState, invoked once per snapshot key on the FIRST
    * micro-batch), so a migrated user's first streamed event chains off
    * their batch-era last event instead of opening a cold chain — no edge
    * is lost at the cutover, and the history table never replays. The
    * snapshot is a keyed Dataset: at scale it shuffles once into the
    * store's own partitioning, never through the driver. */
  def transitionStreamTwsWarm(events: Dataset[ChangeEvent],
      snapshot: Dataset[UserLastEvent]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id).transformWithState(new WarmTransitionProcessor,
      TimeMode.None(), OutputMode.Append(), snapshot.groupByKey(_.user_id))
  }

  /** Streaming Markov-transition monitor — the in-flight twin of the batch
    * `ev_transition_matrix`: per-user state is the LAST event only (type +
    * epoch-µs — O(1) per user, the streaming form of the batch query's
    * per-user lag window), and each arriving event emits its (from → to)
    * edge with the dwell gap immediately (append mode). Downstream a plain
    * streaming agg keeps the live transition-count/gap-sum matrix; the
    * parity spec pins per-edge counts AND µs gap sums against the batch
    * operator across a mid-stream batch split, so state provably carries
    * last-event context over batch boundaries. Same per-key in-order
    * assumption as [[scd2Stream]]/[[funnel]].
    *
    * Event-time TTL bounds the key set: a user silent for `ttlHours`
    * (default 90 days) is evicted, so their NEXT event opens a fresh chain
    * and emits no edge — a dwell gap longer than the TTL is a return
    * visit, not a transition, so the drop is the analytically-intended
    * cut, and state stays O(recently-active users) forever. */
  def transitionStream(events: Dataset[ChangeEvent],
      lateness: String = "1 hour",
      ttlHours: Long = 2160L): Dataset[Transition] = {
    import events.sparkSession.implicits._
    watermarked(events, lateness)(_.user_id)
      .flatMapGroupsWithState[LastEvent, Transition](OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(timedGroups(new TransitionRule(ttlHours * 3600000L)))
  }
}

/** One (day, type) cell's refreshed exact-distinct count, emitted per
  * batch by [[StreamOps.bitmapDistinctStream]]. */
case class BitmapCell(day: Long, event_type: String, n_words: Long,
    distinct_users: Long)

/** CUSUM monitor state per event type — O(1) forever: the open hour plus
  * the running (prefix sum, min, max drift) triple. */
private case class CusumState(openHour: Long, cnt: Long, p: Long,
    runmin: Long, maxDrift: Long, driftHour: Long, nClosed: Long)

/** The refreshed change-point verdict for one type, emitted per batch by
  * [[StreamOps.cusumStream]]. */
case class CusumPoint(event_type: String, n_hours: Long, max_drift: Long,
    drift_hour: Long)

/** One (from → to) edge with its dwell gap, emitted per arriving event by
  * [[StreamOps.transitionStream]]. */
case class Transition(user_id: Long, from_type: String, to_type: String,
    gap_us: Long)

/** Last-seen event per user — O(1) state for
  * [[StreamOps.transitionStream]]. */
private case class LastEvent(event_type: String, us: Long)

/** One user's final batch-era event — the snapshot row type seeding
  * [[StreamOps.transitionStreamTwsWarm]]. */
case class UserLastEvent(user_id: Long, event_type: String, us: Long)

/** V2 of [[LastEvent]]: the added counter is `Option[Long]` (nullable →
  * an Avro union with a null default), the shape state-schema evolution
  * accepts; a bare `Long` would be a required Avro field with no default
  * and the restart would be rejected. */
private case class LastEventV2(event_type: String, us: Long,
    n_edges: Option[Long])

/** One (from → to) edge plus the user's post-upgrade cumulative edge
  * count, emitted by [[StreamOps.transitionStreamTwsV2]]. */
case class TransitionV2(user_id: Long, from_type: String, to_type: String,
    gap_us: Long, cum_edges: Long)

/** [[StreamOps.ingestFunnelFullStream]]'s EXACT stage: keyed by the md5
  * text digest, the first arrival (in doc_id order within a batch — feed
  * order across batches) claims the digest and keeps its stateless
  * verdict; every later copy is re-labeled `exact`. The LABELING twin of
  * [[StreamOps.dedupWithinWatermark]] — same bounded-state contract, but
  * dropped copies are emitted with their verdict instead of vanishing
  * (a funnel must account). Quality-failed docs pass through without
  * claiming (the batch funnel dedups quality survivors only). State is
  * one long per live digest, TTL-bounded (native TWS TTL, as
  * [[StreamOps.transitionStreamTws]] uses). */
class ExactClaimProcessor(ttl: java.time.Duration = null)
    extends org.apache.spark.sql.streaming.StatefulProcessor[String, StagedDoc, StagedDoc] {
  import org.apache.spark.sql.streaming.{TTLConfig, TimerValues, ValueState}
  @transient private var claimed: ValueState[Long] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    claimed = getHandle.getValueState[Long]("claimed",
      org.apache.spark.sql.Encoders.scalaLong,
      if (ttl == null) TTLConfig.NONE else TTLConfig(ttl))

  override def handleInputRows(digest: String, rows: Iterator[StagedDoc],
      timers: TimerValues): Iterator[StagedDoc] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[StagedDoc]
    rows.toSeq.sortBy(_.doc_id).foreach { d =>
      if (d.stage0 == "quality") out += d
      else if (!claimed.exists()) { claimed.update(d.doc_id); out += d }
      else if (claimed.get() == d.doc_id) out += d // replay-idempotent
      else out += d.copy(stage0 = "exact")
    }
    out.iterator
  }
}

/** [[StreamOps.ingestFunnelFullStream]]'s NEAR-DUP probe: keyed by
  * (band, band-hash), the first doc claims the bucket with its full
  * 32-hash MinHash signature; a later collider whose signature-estimated
  * Jaccard (matching positions / 32) ≥ 1/2 is flagged with a `neardup`
  * row. Bucket state is one doc_id + 32 longs — never a shingle set —
  * TTL-bounded. Verdict rows (band = −1, key unique per doc) pass
  * through stateless. */
class BandClaimProcessor(ttl: java.time.Duration = null)
    extends org.apache.spark.sql.streaming.StatefulProcessor[(Int, String), BandRow, FunnelRow] {
  import org.apache.spark.sql.streaming.{TTLConfig, TimerValues, ValueState}
  @transient private var claim: ValueState[BandClaim] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    claim = getHandle.getValueState[BandClaim]("claim",
      org.apache.spark.sql.Encoders.product[BandClaim],
      if (ttl == null) TTLConfig.NONE else TTLConfig(ttl))

  override def handleInputRows(key: (Int, String), rows: Iterator[BandRow],
      timers: TimerValues): Iterator[FunnelRow] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[FunnelRow]
    if (key._1 == -1)
      rows.foreach(r => out += FunnelRow(r.doc_id, r.source, r.stage, -1))
    else rows.toSeq.sortBy(_.doc_id).foreach { r =>
      if (!claim.exists()) claim.update(BandClaim(r.doc_id, r.sig))
      else {
        val c = claim.get()
        if (c.doc_id != r.doc_id) {
          val matches = c.sig.zip(r.sig).count { case (a, b) => a == b }
          if (matches * 2 >= 32)
            out += FunnelRow(r.doc_id, r.source, "neardup", key._1)
        }
      }
    }
    out.iterator
  }
}

/** Carried EWMA taps for [[StreamOps.ewmaStreamTws]] (≤ 4 ascending
  * (hourSec, cnt)). */
private case class EwmaTaps(taps: Seq[(Long, Long)])

/** One smoothed traffic tap, emitted (and re-emitted as its hour
  * accumulates) by [[StreamOps.ewmaStream]]. */
case class EwmaPoint(event_type: String, hour_ts: Long, cnt: Long, ewma_x15: Long)

/** A priced tick for [[StreamOps.ohlcStream]]. */
case class Tick(event_id: Long, ts: Timestamp, value: Double)

/** Closed-hour moments + the open hour for [[StreamOps.burstStream]]:
  * n/Σx/Σx² over closed hours, openHour = -1 when none. */
private case class BurstState(n: Long, s1: Long, s2: Long,
    openHour: Long, openCnt: Long)

/** A closed hour's burst verdict against prefix statistics. */
case class BurstVerdict(hour_ts: Long, cnt: Long, burst: Boolean)

/** One JSON key's accumulated shape histogram from
  * [[StreamOps.schemaInferStream]]. */
case class KeyShapeProfile(key: String, shapes: Map[String, Long])

/** Per-hour bar state: open/close carry their (µs, event_id) ordering keys
  * so ties resolve like the batch lexicographic argmin/argmax. */
private case class OhlcState(openUs: Long, openId: Long, open: Long,
    high: Long, low: Long, closeUs: Long, closeId: Long, close: Long,
    n: Long, vol: Long)

/** A refreshed hourly bar from [[StreamOps.ohlcStream]]. */
case class OhlcBar(hour_ts: Long, n_trades: Long, open_cents: Long,
    high_cents: Long, low_cents: Long, close_cents: Long, volume_cents: Long)

/** Per-type running moments for [[StreamOps.anomalies]] (Welford). */
case class TypeStats(n: Long, mean: Double, m2: Double)

/** KMV sketch state: the k smallest distinct hashes seen for a key. */
case class KmvSketch(hashes: Seq[Long])

/** HLL register state: 64 max-merged leading-zero ranks. */
case class HllState(regs: Seq[Int])

/** Misra–Gries state: events seen + at most k lower-bound counters. */
case class HhState(n: Long, counters: Map[Long, Long])

/** Per-type heavy-hitter summary emitted each batch (parallel arrays
  * sorted by count desc, user asc). */
case class HeavyHittersProfile(event_type: String, n_events: Long,
    users: Seq[Long], count_lower_bounds: Seq[Long])

/** Per-type HLL estimate emitted each batch. */
case class HllEstimate(event_type: String, hll_estimate: Double, n_regs_used: Int)

/** Per-type distinct estimate emitted each batch. */
case class DistinctEstimate(event_type: String, n_distinct_est: Long, n_in_sketch: Int)

/** Per-type quantile estimates off the streaming log-linear sketch. */
case class QuantileEstimate(event_type: String, n_events: Long, n_buckets: Int,
    p50_est: Double, p99_est: Double)

/** Running disorder state for [[StreamOps.latenessMonitor]]. */
case class LateState(n: Long, nLate: Long, maxLateMs: Long, runmax: Long)

/** Funnel progress for [[StreamOps.funnel]]: completed step times. */
case class FunnelState(times: Seq[Long], done: Boolean)

/** A completed funnel, emitted once per user. */
case class Conversion(user_id: Long, first_step_ts: Timestamp,
    last_step_ts: Timestamp, duration_ms: Long)

/** Per-type disorder profile emitted each batch. */
case class LatenessProfile(event_type: String, n_events: Long, n_late: Long,
    late_frac: Double, max_late_ms: Long)

/** An emitted outlier. */
case class Anomaly(event_type: String, user_id: Long, value: Double, z: Double,
    ts: Timestamp)

/** A keyed change event for [[StreamOps.scd2Stream]] — carries the
  * event_id the batch `ev_scd2` uses as its deterministic ts tiebreak. */
case class ChangeEvent(user_id: Long, event_id: Long, event_type: String,
    ts: Timestamp)

/** A CLOSED SCD-2 interval ([valid_from, valid_to) epoch seconds),
  * emitted exactly once when the tracked status changes. */
case class Scd2Interval(user_id: Long, version: Long, status: String,
    n_events: Long, valid_from: Long, valid_to: Long)

/** Open-interval state for [[StreamOps.scd2Stream]] — O(1) per user.
  * `last` is the newest observed event second, the close point a dormancy
  * flush uses. */
private case class Scd2State(version: Long, status: String, n: Long,
    from: Long, last: Long)

/** One Count-Min hash row's counters, emitted per batch by
  * [[StreamOps.countMinStream]]. */
case class CmRowState(j: Int, counters: Map[Int, Long])

/** Latest click/view touch per user — O(1) state for
  * [[StreamOps.attributionStream]]. */
private case class TouchState(lastClickUs: Option[Long], lastViewUs: Option[Long])

/** An attributed purchase, emitted as it arrives. */
case class Attribution(user_id: Long, event_id: Long, channel: String)
