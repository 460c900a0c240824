package graft.sources.sse

import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Live SSE client: connection lifecycle, retry with exponential backoff,
  * rate limiting, idle-timeout health checks, and the full connection
  * metrics surface — the re-expression of the reference client
  * (reference ServerSentEventClient.java) behind the [[SseEndpoint]]
  * transport seam.
  *
  * Parity map (reference file:line):
  *  - lifecycle states + transitions — :50-56, :250, :300, :310, :325, :346
  *  - request build (basic auth, compression, default User-Agent, custom
  *    headers) — :252-283
  *  - rate limiting between connection attempts — :218-239
  *  - exponential backoff schedule + max attempts + 429 extended backoff —
  *    :587-676
  *  - idle-timeout health check driven from poll — :418-450, :488-493,
  *    :552-581
  *  - metrics — :87-102, :764-803
  *
  * Deliberate differences:
  *  - the client feeds raw chunks to one incremental WHATWG [[SseParser]]
  *    (the reference receives parsed events from jax-rs); parser state
  *    (last-event-id, server `retry:`) survives reconnects, and the resume
  *    id is handed to the endpoint on every (re)connect — the reference gets
  *    the same from `SseEventSource` internals (:290-294, :538).
  *  - a FAILED stream self-heals via [[attemptReconnection]] (the reference
  *    task dies and is restarted by its framework; a long-running Spark
  *    source prefers in-place recovery).
  *
  * `clock` and `sleeper` are injectable so specs drive time and observe
  * backoff sleeps deterministically — no real sleeping in tests.
  */
final class SseClient(
    endpoint: SseEndpoint,
    config: SseConfig,
    clock: () => Long = () => System.currentTimeMillis(),
    sleeper: Long => Unit = Thread.sleep(_),
    onChunk: Option[String => Unit] = None,
    metricsSink: (String, String) => Unit = SseClient.slf4jMetricsSink) {

  import ConnectionState._

  private val backoff =
    Backoff(config.retryBackoffInitialMs, config.retryBackoffMaxMs, config.retryMaxAttempts)

  @volatile private var state: ConnectionState = Initialized
  @volatile private var conn: SseConnection = _
  @volatile private var lastError: Option[Throwable] = None
  @volatile private var lastEventTimestamp: Long = clock()
  @volatile private var lastRequestTime = 0L
  @volatile private var currentRetryAttempt = 0
  @volatile private var connectedSince = 0L
  @volatile private var lastReconnectTime = 0L
  @volatile private var lastConnectionCheck = clock()
  // reference ServerSentEventsSourceTask.java:74 seeds the timer at start;
  // AtomicLong because BOTH the caller's poll() thread and the background
  // pump call maybeLogMetrics — a plain check-then-set would let two
  // threads observe the same elapsed interval and emit duplicate lines
  private val lastMetricsLogTime = new java.util.concurrent.atomic.AtomicLong(clock())

  private val parser = new SseParser
  private val queue = new LinkedBlockingQueue[SseEvent]()
  private val transitionLog = ArrayBuffer.empty[(String, String)]

  // ---- circuit breaker (reference IMPROVEMENT_PLAN.md Phase 3 Step 11:
  // failure threshold detection + alerting; backoff already exists) ----
  // consecutive connect failures trip the breaker OPEN: reconnection
  // attempts fail fast (no sleep, no socket) until the cool-down elapses,
  // then ONE half-open probe decides — success closes and resets, failure
  // re-opens. Protects both sides: the upstream from a reconnect
  // hammer-loop when it is down hard, and this pipeline's pump thread from
  // burning its budget on known-dead dials. Disabled unless
  // circuit.breaker.failure.threshold is set.
  @volatile private var consecutiveFailures = 0
  @volatile private var breakerOpenedAt = 0L
  private val breakerOpens = new AtomicLong

  /** `disabled` / `closed` / `open` (failing fast) / `half-open` (one
    * probe allowed). */
  def breakerState: String =
    if (config.circuitBreakerThreshold.isEmpty) "disabled"
    else if (breakerOpenedAt == 0L) "closed"
    else if (clock() - breakerOpenedAt >= config.circuitBreakerOpenMs) "half-open"
    else "open"

  private def recordConnectFailure(): Unit = {
    consecutiveFailures += 1
    config.circuitBreakerThreshold.foreach { threshold =>
      val wasOpen = breakerOpenedAt != 0L && breakerState == "open"
      if (consecutiveFailures >= threshold && !wasOpen) {
        breakerOpenedAt = clock()
        breakerOpens.incrementAndGet()
        // Step 11 "alerting capability": the trip is pushed to the metrics
        // sink the moment it happens, not discovered by polling
        metricsSink("circuit.breaker",
          s"OPEN after $consecutiveFailures consecutive connection failures " +
            s"(cool-down ${config.circuitBreakerOpenMs} ms)")
      }
    }
  }

  private def recordConnectSuccess(): Unit = {
    if (breakerOpenedAt != 0L)
      metricsSink("circuit.breaker", "CLOSED after successful half-open probe")
    consecutiveFailures = 0
    breakerOpenedAt = 0L
  }

  // metrics totals (reference :87-102)
  private val totalEventsReceived = new AtomicLong
  private val totalBytesReceived = new AtomicLong
  private val totalConnectionAttempts = new AtomicLong
  private val totalSuccessfulConnections = new AtomicLong
  private val totalFailedConnections = new AtomicLong
  private val totalConnectionErrors = new AtomicLong
  private val totalReconnections = new AtomicLong
  private val maxQueueSize = new AtomicLong
  private val eventTypeCounters = new ConcurrentHashMap[String, AtomicLong]

  // ---- lifecycle ----

  def connectionState: ConnectionState = state
  def stateTransitions: Seq[(String, String)] = synchronized(transitionLog.toList)
  def lastEventId: Option[String] = parser.lastEventId
  def errorOption: Option[Throwable] = lastError

  /** Seed the WHATWG resume state before the first connect — used on
    * restart to continue from where a previous client's spool left off, so
    * a resume-aware upstream does not replay already-spooled events. */
  def seedResume(id: Option[String], retryMs: Option[Long]): Unit =
    parser.seed(id, retryMs)

  private def transition(to: ConnectionState): Unit = synchronized {
    transitionLog += ((state.name, to.name))
    state = to
  }

  /** OAuth2 token source when `http.auth.oauth2.*` is configured — one
    * provider per client so the token cache spans reconnects (a reconnect
    * storm must not hammer the token endpoint); each (re)connect calls
    * [[buildHeaders]], so an expired token refreshes exactly when a new
    * stream request needs it. */
  private[sse] val oauthProvider: Option[OAuth2TokenProvider] =
    config.oauthTokenUrl.map(url => new OAuth2TokenProvider(
      url, config.oauthClientId.get, config.oauthClientSecret.get,
      config.oauthScope, config.proxy, config.sslContext,
      skipHostnameVerify = config.httpsInsecureSkipVerify))

  /** Request headers, built exactly like the reference start() does
    * (:252-283): Basic auth — or the roadmap Step-9 schemes, a static
    * bearer token or an OAuth2 client-credentials token (mutually
    * exclusive, enforced by [[SseConfig]]) — Accept-Encoding when
    * compression is on, a default User-Agent unless overridden, then
    * custom headers on top. */
  def buildHeaders(): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    if (config.httpBasicAuth) for (u <- config.username; p <- config.password) {
      val enc = java.util.Base64.getEncoder
        .encodeToString(s"$u:$p".getBytes(StandardCharsets.UTF_8))
      b += "Authorization" -> s"Basic $enc"
    }
    config.bearerToken.foreach(t => b += "Authorization" -> s"Bearer $t")
    oauthProvider.foreach(p => b += "Authorization" -> s"Bearer ${p.token()}")
    if (config.compressionEnabled) b += "Accept-Encoding" -> "gzip, deflate"
    if (!config.headers.contains("User-Agent"))
      b += "User-Agent" -> SseClient.DefaultUserAgent
    b ++= config.headers
    b.result()
  }

  /** Sleep so consecutive connection attempts respect
    * rate.limit.requests.per.second (reference applyRateLimit :218-239). */
  private def applyRateLimit(): Unit =
    config.rateLimitRequestsPerSecond.filter(_ > 0).foreach { rps =>
      val since = clock() - lastRequestTime
      val minIntervalMs = (1000.0 / rps).toLong
      if (since < minIntervalMs) sleeper(minIntervalMs - since)
      lastRequestTime = clock()
    }

  /** Whether this client currently holds a concurrency slot on its
    * endpoint (see rate.limit.max.concurrent). */
  @volatile private var holdsSlot = false

  /** One connection attempt: CONNECTING → CONNECTED, or CONNECTING → FAILED
    * and throws (reference start() :247-316). The endpoint receives the
    * parser's current last-event-id as the resume position.
    *
    * rate.limit.max.concurrent is ENFORCED here (the reference carries the
    * option without applying it): clients sharing an endpoint count their
    * open connections, and an attempt past the cap fails with a rate-limit
    * error — which feeds the same extended-backoff path a server-side 429
    * does. */
  def start(): Unit = {
    transition(Connecting)
    totalConnectionAttempts.incrementAndGet()
    try {
      applyRateLimit()
      config.rateLimitMaxConcurrent.foreach { max =>
        val gauge = SseClient.slots(endpoint)
        if (gauge.get() >= max)
          throw new java.io.IOException(
            s"rate limit: max concurrent connections ($max) reached")
        gauge.incrementAndGet()
        holdsSlot = true
      }
      conn = endpoint.connect(parser.lastEventId, buildHeaders())
      transition(Connected)
      totalSuccessfulConnections.incrementAndGet()
      recordConnectSuccess()
      connectedSince = clock()
    } catch {
      case NonFatal(e) =>
        releaseSlot()
        transition(Failed)
        totalFailedConnections.incrementAndGet()
        recordConnectFailure()
        // a 401 means the resource server rejected the (possibly revoked)
        // cached OAuth token — drop it so the NEXT attempt fetches fresh,
        // instead of resending the same stale Bearer until the cache
        // margin elapses (up to ~1 h of guaranteed-failing reconnects)
        if (isUnauthorizedError(e)) oauthProvider.foreach(_.invalidate())
        lastError = Some(e)
        throw new java.io.IOException("Failed to establish SSE connection", e)
    }
  }

  private def releaseSlot(): Unit =
    if (holdsSlot) {
      holdsSlot = false
      SseClient.slots(endpoint).decrementAndGet()
    }

  /** Graceful close (reference stop() :321-330). */
  def stop(): Unit = {
    val c = conn
    if (c != null) {
      c.close()
      conn = null
      releaseSlot()
      transition(Disconnected)
    }
  }

  // ---- ingest ----

  /** Read at most one chunk from the connection and feed the parser.
    * EOF or a read error fails the connection (reference onError :720-735);
    * recovery happens via [[attemptReconnection]]. */
  def pumpOnce(timeoutMs: Long = 1000L): Unit =
    if (state == Connected && conn != null) {
      try conn.read(timeoutMs) match {
        case SseChunk.Data(text) =>
          onChunk.foreach(_(text))
          val events = parser.feed(text)
          events.foreach(onEvent)
        case SseChunk.Idle => ()
        case SseChunk.Eof =>
          onStreamError(new java.io.IOException("SSE stream closed by upstream"))
      } catch {
        case e: InterruptedException => throw e
        case NonFatal(e) => onStreamError(e)
      }
    }

  /** Per-event bookkeeping (reference onMessage :684-712). With `onChunk`,
    * frames leave through the spool, so events are counted, not queued. */
  private def onEvent(e: SseEvent): Unit = {
    lastEventTimestamp = clock()
    totalEventsReceived.incrementAndGet()
    totalBytesReceived.addAndGet(e.data.length.toLong)
    e.event.foreach(n =>
      eventTypeCounters.computeIfAbsent(n, _ => new AtomicLong).incrementAndGet())
    if (onChunk.isEmpty) {
      queue.add(e)
      maxQueueSize.accumulateAndGet(queue.size.toLong, math.max(_, _))
    }
  }

  private def onStreamError(e: Throwable): Unit = {
    transition(Failed)
    lastError = Some(e)
    totalConnectionErrors.incrementAndGet()
  }

  /** Drain buffered events; runs the periodic metrics log and health check
    * first (reference ServerSentEventsSourceTask.poll :84-92 and
    * getRecords :487-546). */
  def poll(): Seq[SseEvent] = {
    maybeLogMetrics()
    val now = clock()
    if (now - lastConnectionCheck > config.connectionCheckIntervalMs) {
      lastConnectionCheck = now
      performConnectionHealthCheck()
    }
    val out = new java.util.ArrayList[SseEvent]
    queue.drainTo(out)
    out.asScala.toSeq
  }

  // ---- health + recovery ----

  def timeSinceLastEvent: Long = clock() - lastEventTimestamp

  /** Reference isConnectionHealthy (:431-452): connected, error-free, and
    * not idle past the timeout. */
  def isConnectionHealthy: Boolean =
    state == Connected && lastError.isEmpty &&
      timeSinceLastEvent <= config.idleTimeoutMs

  /** Reconnect a CONNECTED-but-stalled stream (reference
    * performConnectionHealthCheck :552-581). */
  def performConnectionHealthCheck(): Unit =
    if (state == Connected && timeSinceLastEvent > config.idleTimeoutMs)
      attemptReconnection()

  /** Reconnect with exponential backoff (reference attemptReconnection
    * :587-638 and calculateBackoffDelay :646-654): give up past
    * retry.max.attempts; delay doubles from the initial value up to the cap;
    * a server-requested `retry:` value overrides the first re-attempt's
    * delay (WHATWG; reference honors it via SseEventSource :290-294);
    * rate-limit errors (429) jump the schedule to attempt ≥3 (:632-636). */
  def attemptReconnection(): Unit = {
    // open breaker: fail fast — no sleep, no socket — until the cool-down
    // yields the half-open probe window
    if (breakerState == "open") return
    if (!backoff.shouldRetry(currentRetryAttempt)) {
      transition(Failed)
      return
    }
    currentRetryAttempt += 1
    val delayMs =
      if (currentRetryAttempt == 1) parser.serverRetryMs.getOrElse(backoff.delayMs(0))
      else backoff.delayMs(currentRetryAttempt - 1)
    if (delayMs > 0) sleeper(delayMs)
    stop()
    lastError = None
    try {
      start()
      totalReconnections.incrementAndGet()
      lastReconnectTime = clock()
      currentRetryAttempt = 0
    } catch {
      case NonFatal(e) =>
        if (isRateLimitError(e))
          currentRetryAttempt = math.max(currentRetryAttempt, 3)
    }
  }

  /** Reference isRateLimitError (:662-676), extended to the cause chain
    * because start() wraps endpoint failures in IOException. */
  private def isRateLimitError(t: Throwable): Boolean =
    causeMessages(t).exists(m =>
      m.contains("429") || m.contains("too many requests") || m.contains("rate limit"))

  /** A 401 STATUS anywhere in the cause chain — the resource server
    * rejected the presented credentials (for OAuth2: a revoked-before-
    * expiry token). Matches only status-code phrasings (`HTTP 401 ...`
    * from [[HttpSseEndpoint]], the JDK's `response code: 401`, or the word
    * "unauthorized") — a bare `401` substring also appears in ports, byte
    * counts, and serials like `4010`, and a spurious match here costs a
    * token-endpoint round trip on every reconnect. Status-LINE phrasings
    * (`HTTP/1.1 401`, `http/2 401`) are matched too: some stacks surface
    * the raw status line without the word "unauthorized", and missing it
    * would reconnect forever on a revoked token instead of refreshing. */
  private[sse] def isUnauthorizedError(t: Throwable): Boolean =
    causeMessages(t).exists(m =>
      UnauthorizedRe.pattern.matcher(m).find() || m.contains("unauthorized"))

  private val UnauthorizedRe =
    ("""(?:\bhttp 401\b|\bhttp/\d(?:\.\d)?\s+401\b|response code:? 401\b""" +
      """|\bstatus(?: code)?:? 401\b|\b401\s+unauthorized\b)""").r

  private def causeMessages(t: Throwable): List[String] = {
    def msgs(x: Throwable, acc: List[String]): List[String] =
      if (x == null || acc.size > 8) acc
      else msgs(x.getCause, Option(x.getMessage).map(_.toLowerCase).toList ::: acc)
    msgs(t, Nil)
  }

  // ---- metrics (reference getMetrics :764-803) ----

  def getMetrics: Map[String, Any] = Map(
    "connection.state" -> state.name,
    "connection.attempts" -> totalConnectionAttempts.get,
    "connection.successful" -> totalSuccessfulConnections.get,
    "connection.failed" -> totalFailedConnections.get,
    "connection.errors" -> totalConnectionErrors.get,
    "connection.reconnections" -> totalReconnections.get,
    "connection.hasError" -> lastError.nonEmpty,
    "time.sinceLastEvent" -> timeSinceLastEvent,
    "time.uptime" -> (if (state == Connected) clock() - connectedSince else 0L),
    "time.sinceLastReconnect" ->
      (if (lastReconnectTime > 0) clock() - lastReconnectTime else -1L),
    "breaker.state" -> breakerState,
    "breaker.consecutiveFailures" -> consecutiveFailures,
    "breaker.opens" -> breakerOpens.get,
    "events.total" -> totalEventsReceived.get,
    "events.bytes" -> totalBytesReceived.get,
    "queue.size" -> queue.size,
    "queue.maxSize" -> maxQueueSize.get,
    "events.byType" -> eventTypeCounters.asScala.map { case (k, v) => k -> v.get }.toMap)

  /** Reference getStatusSummary (:368-387). */
  def getStatusSummary: String =
    s"SSE Client Status: State=${state.name}, Events=${totalEventsReceived.get}, " +
      s"QueueSize=${queue.size}, LastEventAge=${timeSinceLastEvent}ms, " +
      s"HasError=${lastError.nonEmpty}"

  /** Single-metric accessor (reference getMetric :805-813). */
  def getMetric(name: String): Option[Any] = getMetrics.get(name)

  /** Emit the full metrics map — WARN when the caller knows the connection
    * is degraded, INFO otherwise (reference logMetrics :821-833). The sink
    * is injectable so specs observe emissions without a log framework;
    * production defaults to slf4j. */
  def logMetrics(useWarnLevel: Boolean): Unit =
    metricsSink(if (useWarnLevel) "WARN" else "INFO",
      s"SSE Client Metrics: $getStatusSummary, Detail=$getMetrics")

  /** Periodic operational logging, driven from the poll/pump cadence like
    * the reference task's poll loop (ServerSentEventsSourceTask.java:84-92):
    * once metrics.log.interval.ms elapses, emit the metrics map at WARN when
    * the connection is unhealthy, else INFO — so a stalled or flapping
    * stream surfaces in the operator's logs without any extra wiring. */
  private def maybeLogMetrics(): Unit = {
    val now = clock()
    val last = lastMetricsLogTime.get()
    // CAS claims the interval: of N racing threads exactly one wins and
    // emits; the losers see the refreshed timestamp and skip
    if (now - last > config.metricsLogIntervalMs &&
        lastMetricsLogTime.compareAndSet(last, now)) {
      logMetrics(!isConnectionHealthy)
    }
  }

  // ---- background pump (used by the live streaming transport) ----

  @volatile private var running = false
  private var thread: Thread = _

  /** Run connect + pump + health-check + reconnect in a daemon thread until
    * [[stopBackground]]. Initial connect failures also recover through the
    * backoff schedule (self-heal — see class doc). */
  def startBackground(pollMs: Long = 100L): Unit = synchronized {
    require(thread == null, "background pump already started")
    running = true
    thread = new Thread(() => runLoop(pollMs), "sse-client-pump")
    thread.setDaemon(true)
    thread.start()
  }

  private def runLoop(pollMs: Long): Unit =
    try {
      while (running) {
        maybeLogMetrics()
        state match {
          case Connected =>
            pumpOnce(pollMs)
            val now = clock()
            if (now - lastConnectionCheck > config.connectionCheckIntervalMs) {
              lastConnectionCheck = now
              performConnectionHealthCheck()
            }
          case Initialized =>
            try start() catch { case NonFatal(_) => () } // now FAILED; retry below
          case Failed =>
            if (breakerState == "open") {
              // fail-fast is right for the synchronous API, but here the
              // pump would spin at 100% CPU for the whole cool-down —
              // sleep the smaller of the poll interval and the remaining
              // cool-down (injected sleeper, so specs stay virtual-time)
              val remaining =
                config.circuitBreakerOpenMs - (clock() - breakerOpenedAt)
              sleeper(math.max(1L, math.min(pollMs, remaining)))
            } else attemptReconnection()
          case Disconnected | Connecting => return
        }
      }
    } catch { case _: InterruptedException => () }

  def stopBackground(joinMs: Long = 5000L): Unit = synchronized {
    running = false
    if (thread != null) {
      thread.interrupt()
      thread.join(joinMs)
      thread = null
    }
    stop()
  }
}

object SseClient {
  /** Reference ships a default User-Agent when none is configured (:270-275). */
  val DefaultUserAgent = "graft-sse/0.2 (Spark-native SSE engine)"

  private lazy val log = org.slf4j.LoggerFactory.getLogger(classOf[SseClient])

  /** Production metrics sink: slf4j at the requested level. */
  val slf4jMetricsSink: (String, String) => Unit = (level, msg) =>
    if (level == "WARN") log.warn(msg) else log.info(msg)

  /** Open-connection gauges per endpoint, for rate.limit.max.concurrent. */
  private val slotsByEndpoint =
    new ConcurrentHashMap[SseEndpoint, java.util.concurrent.atomic.AtomicInteger]()
  private[sse] def slots(ep: SseEndpoint): java.util.concurrent.atomic.AtomicInteger =
    slotsByEndpoint.computeIfAbsent(ep, _ => new java.util.concurrent.atomic.AtomicInteger())
}
