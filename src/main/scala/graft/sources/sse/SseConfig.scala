package graft.sources.sse

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** Configuration surface of the SSE source, mirroring the reference
  * connector's options (reference ServerSentEventsSourceConnectorConfig.java):
  * endpoint, basic auth, custom headers, compression toggle, rate limits and
  * retry/backoff policy — plus the Spark-native additions (`path` transport,
  * `maxEventsPerTrigger` admission control).
  *
  * Two transports sit behind the source:
  *  - `transport=log` (default): replay an append-only frame-log file/dir.
  *  - `transport=live`: an [[SseClient]] drives an [[SseEndpoint]]
  *    (`endpoint.ref` into [[SseEndpoints]]) with the full connection
  *    machinery — lifecycle states, backoff, rate limiting, health checks —
  *    spooling frames to `path` for replayable offsets. In this zero-egress
  *    environment endpoints are in-process loopbacks; an HTTP endpoint drops
  *    in behind the same seam.
  */
final case class SseConfig(
    path: String,
    sseUri: Option[String],
    topic: Option[String],
    httpBasicAuth: Boolean,
    username: Option[String],
    password: Option[String],
    headers: Map[String, String],
    compressionEnabled: Boolean,
    rateLimitRequestsPerSecond: Option[Double],
    rateLimitMaxConcurrent: Option[Int],
    retryBackoffInitialMs: Long,
    retryBackoffMaxMs: Long,
    retryMaxAttempts: Int,
    maxEventsPerTrigger: Option[Long],
    transport: String = "log",
    endpointRef: Option[String] = None,
    idleTimeoutMs: Long = SseConfig.DefaultIdleTimeoutMs,
    connectionCheckIntervalMs: Long = SseConfig.DefaultConnectionCheckIntervalMs,
    metricsLogIntervalMs: Long = SseConfig.DefaultMetricsLogIntervalMs,
    eventsFilter: Option[Set[String]] = None,
    eventsFilterPattern: Option[String] = None,
    bearerToken: Option[String] = None,
    oauthTokenUrl: Option[String] = None,
    oauthClientId: Option[String] = None,
    oauthClientSecret: Option[String] = None,
    oauthScope: Option[String] = None,
    proxyHost: Option[String] = None,
    proxyPort: Option[Int] = None,
    circuitBreakerThreshold: Option[Int] = None,
    circuitBreakerOpenMs: Long = SseConfig.DefaultCircuitBreakerOpenMs,
    httpsTruststorePath: Option[String] = None,
    httpsTruststorePassword: Option[String] = None,
    httpsTruststoreType: String = "PKCS12",
    httpsInsecureSkipVerify: Boolean = false) {
  require(path.nonEmpty, "sse source requires a 'path' option (frame-log file)")
  require(retryBackoffInitialMs > 0 && retryBackoffMaxMs >= retryBackoffInitialMs,
    "retry.backoff.initial.ms must be > 0 and <= retry.backoff.max.ms")
  if (httpBasicAuth) require(username.isDefined && password.isDefined,
    "http.basic.auth=true requires http.basic.auth.username and .password")
  // security surface (reference IMPROVEMENT_PLAN.md Phase 3 Step 9: OAuth
  // support, proxy support): exactly one authorization scheme may own the
  // Authorization header
  require(Seq(httpBasicAuth, bearerToken.isDefined, oauthTokenUrl.isDefined)
    .count(identity) <= 1,
    "http.basic.auth, http.auth.bearer.token and http.auth.oauth2.* are " +
      "mutually exclusive — they all set the Authorization header")
  if (oauthTokenUrl.isDefined || oauthClientId.isDefined || oauthClientSecret.isDefined)
    require(oauthTokenUrl.isDefined && oauthClientId.isDefined &&
      oauthClientSecret.isDefined,
      "OAuth2 client-credentials needs http.auth.oauth2.token.url, " +
        ".client.id and .client.secret together")
  require(proxyHost.isDefined == proxyPort.isDefined,
    "http.proxy.host and http.proxy.port must be set together")
  proxyPort.foreach(p => require(p > 0 && p <= 65535,
    s"http.proxy.port out of range: $p"))
  // circuit breaker (reference IMPROVEMENT_PLAN.md Phase 3 Step 11)
  circuitBreakerThreshold.foreach(t => require(t > 0,
    s"circuit.breaker.failure.threshold must be positive, got $t"))
  require(circuitBreakerOpenMs > 0, "circuit.breaker.open.ms must be positive")
  // advanced TLS (Step 9): a custom trust anchor set and the explicit
  // verification kill-switch are contradictory instructions.
  // SCOPE WARNING: https.insecure.skip.verify disables certificate AND
  // hostname verification on EVERY HTTPS call this source makes — the SSE
  // stream AND the OAuth2 token fetch (where the client secret is POSTed).
  // An operator opting in for a self-signed stream cert is also trusting
  // the network path to the token endpoint; test rigs only — production
  // self-signed upstreams belong in https.truststore.path.
  require(!(httpsInsecureSkipVerify && httpsTruststorePath.isDefined),
    "https.truststore.path and https.insecure.skip.verify are mutually exclusive")
  require(transport == "log" || transport == "live",
    s"transport must be 'log' or 'live', got '$transport'")
  if (transport == "live") require(endpointRef.isDefined || sseUri.isDefined,
    "transport=live requires an 'endpoint.ref' or 'sse.uri' option")
  // reference setIdleTimeout/setConnectionCheckInterval (:460-479)
  require(idleTimeoutMs > 0, "idle.timeout.ms must be positive")
  require(connectionCheckIntervalMs > 0, "connection.check.interval.ms must be positive")
  require(metricsLogIntervalMs > 0, "metrics.log.interval.ms must be positive")
  // source-side event filtering (reference IMPROVEMENT_PLAN.md Phase 2 Step 7:
  // filter by type/name + pattern-based filtering) — validated at build time
  // so a bad allowlist fails the query plan, not an executor task
  eventsFilter.foreach(s => require(s.nonEmpty,
    "events.filter must be a non-empty comma-separated list of event names"))
  eventsFilterPattern.foreach { p =>
    try java.util.regex.Pattern.compile(p)
    catch {
      case e: java.util.regex.PatternSyntaxException =>
        throw new IllegalArgumentException(
          s"events.filter.pattern is not a valid regex: ${e.getMessage}")
    }
  }

  /** The JDK proxy for every outbound HTTP call this config owns — the SSE
    * stream AND the OAuth2 token fetch (a deployment behind an egress
    * proxy needs both to traverse it). */
  def proxy: Option[java.net.Proxy] = for (h <- proxyHost; p <- proxyPort)
    yield new java.net.Proxy(java.net.Proxy.Type.HTTP,
      new java.net.InetSocketAddress(h, p))

  /** The SSLContext every outbound HTTPS call uses (Step 9 "advanced
    * TLS/SSL configuration"): a custom truststore (private CA / pinned
    * self-signed upstream — the common enterprise SSE deployment), or the
    * explicit trust-all kill-switch for test rigs. None → JDK defaults. */
  def sslContext: Option[javax.net.ssl.SSLContext] =
    if (httpsInsecureSkipVerify) Some(SseConfig.trustAllContext())
    else httpsTruststorePath.map { p =>
      val ks = java.security.KeyStore.getInstance(httpsTruststoreType)
      val in = new java.io.FileInputStream(p)
      try ks.load(in, httpsTruststorePassword.map(_.toCharArray).orNull)
      finally in.close()
      val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
        javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
      tmf.init(ks)
      val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
      ctx.init(null, tmf.getTrustManagers, null)
      ctx
    }
}

object SseConfig {
  // defaults match the reference (ServerSentEventsSourceConnectorConfig.java;
  // health-check defaults at ServerSentEventClient.java:414-415)
  val DefaultRetryBackoffInitialMs = 2000L
  val DefaultRetryBackoffMaxMs = 30000L
  val DefaultRetryMaxAttempts: Int = -1 // unlimited
  val DefaultIdleTimeoutMs = 60000L
  val DefaultConnectionCheckIntervalMs = 30000L
  // reference ServerSentEventsSourceTask.java:40 (1 minute)
  val DefaultMetricsLogIntervalMs = 60000L
  // circuit breaker cool-down before the half-open probe (Step 11)
  val DefaultCircuitBreakerOpenMs = 60000L

  def fromOptions(options: JMap[String, String]): SseConfig = {
    val o = options.asScala.map { case (k, v) => (k.toLowerCase, v) }
    def opt(k: String): Option[String] = o.get(k.toLowerCase).filter(_.nonEmpty)
    SseConfig(
      path = opt("path").getOrElse(""),
      sseUri = opt("sse.uri"),
      topic = opt("topic"),
      httpBasicAuth = opt("http.basic.auth").exists(_.toBoolean),
      username = opt("http.basic.auth.username"),
      password = opt("http.basic.auth.password"),
      headers = o.collect {
        case (k, v) if k.startsWith("http.header.") => k.stripPrefix("http.header.") -> v
      }.toMap,
      compressionEnabled = opt("compression.enabled").forall(_.toBoolean),
      rateLimitRequestsPerSecond = opt("rate.limit.requests.per.second").map(_.toDouble),
      rateLimitMaxConcurrent = opt("rate.limit.max.concurrent").map(_.toInt),
      retryBackoffInitialMs = opt("retry.backoff.initial.ms").map(_.toLong)
        .getOrElse(DefaultRetryBackoffInitialMs),
      retryBackoffMaxMs = opt("retry.backoff.max.ms").map(_.toLong)
        .getOrElse(DefaultRetryBackoffMaxMs),
      retryMaxAttempts = opt("retry.max.attempts").map(_.toInt)
        .getOrElse(DefaultRetryMaxAttempts),
      maxEventsPerTrigger = opt("maxeventspertrigger").map(_.toLong),
      transport = opt("transport").getOrElse("log"),
      endpointRef = opt("endpoint.ref"),
      idleTimeoutMs = opt("idle.timeout.ms").map(_.toLong)
        .getOrElse(DefaultIdleTimeoutMs),
      connectionCheckIntervalMs = opt("connection.check.interval.ms").map(_.toLong)
        .getOrElse(DefaultConnectionCheckIntervalMs),
      metricsLogIntervalMs = opt("metrics.log.interval.ms").map(_.toLong)
        .getOrElse(DefaultMetricsLogIntervalMs),
      eventsFilter = opt("events.filter")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet),
      eventsFilterPattern = opt("events.filter.pattern"),
      bearerToken = opt("http.auth.bearer.token"),
      oauthTokenUrl = opt("http.auth.oauth2.token.url"),
      oauthClientId = opt("http.auth.oauth2.client.id"),
      oauthClientSecret = opt("http.auth.oauth2.client.secret"),
      oauthScope = opt("http.auth.oauth2.scope"),
      proxyHost = opt("http.proxy.host"),
      proxyPort = opt("http.proxy.port").map(_.toInt),
      circuitBreakerThreshold = opt("circuit.breaker.failure.threshold").map(_.toInt),
      circuitBreakerOpenMs = opt("circuit.breaker.open.ms").map(_.toLong)
        .getOrElse(DefaultCircuitBreakerOpenMs),
      httpsTruststorePath = opt("https.truststore.path"),
      httpsTruststorePassword = opt("https.truststore.password"),
      httpsTruststoreType = opt("https.truststore.type").getOrElse("PKCS12"),
      httpsInsecureSkipVerify = opt("https.insecure.skip.verify").exists(_.toBoolean))
  }

  /** Trust-all context for `https.insecure.skip.verify` — test rigs only;
    * the config key name carries the warning. */
  private def trustAllContext(): javax.net.ssl.SSLContext = {
    val tm: javax.net.ssl.X509TrustManager = new javax.net.ssl.X509TrustManager {
      override def checkClientTrusted(
          c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
      override def checkServerTrusted(
          c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
      override def getAcceptedIssuers: Array[java.security.cert.X509Certificate] =
        Array.empty
    }
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(null, Array(tm), new java.security.SecureRandom())
    ctx
  }
}

/** Exponential-backoff schedule matching the reference client's reconnect
  * policy (reference ServerSentEventClient.java:140-143, 290): delay doubles
  * from the initial value, capped at the max; attempts are unlimited when
  * maxAttempts < 0. Pure arithmetic — shared by any transport. */
final case class Backoff(initialMs: Long, maxMs: Long, maxAttempts: Int) {
  /** Delay before retry `attempt` (0-based). */
  def delayMs(attempt: Int): Long = {
    val shift = math.min(attempt, 62)
    val raw = BigInt(initialMs) << shift
    if (raw > maxMs) maxMs else raw.toLong
  }
  def shouldRetry(attempt: Int): Boolean = maxAttempts < 0 || attempt < maxAttempts
}
