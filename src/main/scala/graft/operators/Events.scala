package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch re-expression of the reference connector's event-stream surface.
  *
  * The reference (cjmatta/kafka-connect-sse) turns SSE frames into
  * (event, id, data) records and routes them to a Kafka topic, keeping
  * per-type counters and throughput metrics
  * (ServerSentEventClient.java:87-102, ServerSentEventsSourceTask.java:108-135).
  * Here the `events` table stands in for the stream
  * (event_type↔event, event_id↔id, props↔data); the true streaming path is
  * graft.sources.sse + graft.streaming.
  *
  * Everything is declarative (functions._ only — no UDFs), so the whole
  * surface stays inside WholeStageCodegen and partial aggregation.
  */
object Events {

  /** SSE wire-format frame for each event, then parse it back with the
    * declarative field extractors. Round-trips events → SSE text → records,
    * exercising the same field grammar the streaming source parses
    * (WHATWG EventSource: `event:`/`id:`/`data:` lines, blank-line dispatch).
    */
  def sseParse(spark: SparkSession, d: String): DataFrame = {
    val framed = Tables.events(spark, d).select(
      concat(
        lit("event: "), col("event_type"), lit("\n"),
        lit("id: "), col("event_id").cast("string"), lit("\n"),
        lit("data: "), col("props"), lit("\n\n")).as("frame"))
    framed.select(
      regexp_extract(col("frame"), "(?m)^event: (.*)$", 1).as("event"),
      regexp_extract(col("frame"), "(?m)^id: (.*)$", 1).as("id"),
      regexp_extract(col("frame"), "(?m)^data: (.*)$", 1).as("data"))
      .orderBy(col("id").cast("long"))
  }

  /** Same round-trip as [[sseParse]], but through the actual incremental
    * WHATWG parser ([[graft.sources.sse.SseParser]]) running partition-wise
    * over concatenated frame text — the one grammar the streaming source
    * runs, validated against the relational oracle. */
  def sseParseFull(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, d).select(
      concat(
        lit("event: "), col("event_type"), lit("\n"),
        lit("id: "), col("event_id").cast("string"), lit("\n"),
        lit("data: "), col("props"), lit("\n\n")).as("frame"))
      .as[String]
      .mapPartitions { frames =>
        frames.flatMap(f => graft.sources.sse.SseParser.parseAll(f).map { e =>
          val (ev, id, data) = graft.sources.sse.SseParser.normalize(e)
          (ev, id.orNull, data)
        })
      }
      .toDF("event", "id", "data")
      .orderBy(col("id").cast("long"))
  }

  /** Reference null-handling: absent event name → "unknown", absent data →
    * "" , id passes through (ServerSentEventsSourceTask.java:114-117).
    * "error"-typed events stand in for frames with no event name. */
  def sseNormalize(spark: SparkSession, d: String): DataFrame = {
    Tables.events(spark, d).select(
      coalesce(nullif(col("event_type"), lit("error")), lit("unknown")).as("event"),
      col("event_id").cast("string").as("id"),
      coalesce(nullif(col("props"), lit("")), lit("")).as("data"))
      .orderBy(col("id").cast("long"))
  }

  /** Topic routing: the connector sends everything to one configured topic;
    * the Spark-native generalization routes per event class and assigns a
    * deterministic partition (hash-by-key semantics of the Kafka producer,
    * with a modulus stand-in so the oracle can reproduce it). */
  def sseRoute(spark: SparkSession, d: String): DataFrame = {
    Tables.events(spark, d)
      .select(concat(lit("sse_"), col("event_type")).as("topic"),
        pmod(col("event_id"), lit(32L)).cast("int").as("partition"))
      .groupBy(col("topic"), col("partition"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("topic"), col("partition"))
  }

  /** Per-event-type counters — the eventTypeCounters metric map. */
  def typeCounts(spark: SparkSession, d: String): DataFrame = {
    Tables.events(spark, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(length(col("props"))).as("payload_bytes"),
        round(avg(col("value")), 4).as("avg_value"))
      .orderBy(col("event_type"))
  }

  /** Stream-level metrics snapshot: totals, window, throughput — the batch
    * analogue of getStatusSummary()/logMetrics(). */
  def metrics(spark: SparkSession, d: String): DataFrame = {
    Tables.events(spark, d)
      .agg(
        count(lit(1)).as("total_events"),
        sum(length(col("props")) + length(col("event_type"))).as("total_bytes"),
        unix_timestamp(min(col("ts"))).as("first_ts"),
        unix_timestamp(max(col("ts"))).as("last_ts"),
        round(count(lit(1)) / (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts")))).cast("double"), 6)
          .as("events_per_sec"))
  }

  /** Tumbling 1-hour windowed counts per type (batch form of the watermarked
    * streaming aggregation in graft.streaming). */
  def windowCounts(spark: SparkSession, d: String): DataFrame = {
    Tables.events(spark, d)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Known event-type vocabulary for pivoted reports. Pivot REQUIRES an
    * explicit value list at scale: without one Spark runs a distinct-values
    * job over the full fact table first, and an unbounded vocabulary would
    * make an unbounded-width row. */
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** Hour-of-day × event-type count matrix — the pivoted load-profile
    * report, written as one conditional count per type under a single
    * groupBy(hour). This is what `pivot(col, values)` means, minus one
    * exchange: Spark's pivot plans TWO aggregates (pre-agg on
    * (group, pivot) then PivotFirst on (group)), while the conditional
    * form is a single partial-agg pass — and missing combinations surface
    * as 0, not null, so downstream arithmetic is total. The vocabulary
    * must be an explicit list either way: pivot without one runs a
    * distinct-values job over the full fact table and yields
    * unbounded-width rows. */
  def pivotHour(spark: SparkSession, d: String): DataFrame = {
    val perType = EventTypes.map(t => count(when(col("event_type") === t, 1)).as(t))
    Tables.events(spark, d)
      .groupBy(hour(col("ts")).as("hour_of_day"))
      .agg(perType.head, perType.tail: _*)
      .orderBy(col("hour_of_day"))
  }

  val pivotHourOracle: String =
    """SELECT cast(hour(ts) AS int) AS hour_of_day,
      |  count(*) FILTER (WHERE event_type = 'click') AS click,
      |  count(*) FILTER (WHERE event_type = 'error') AS error,
      |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  count(*) FILTER (WHERE event_type = 'view') AS view
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Traffic burstiness per event type over hourly buckets: Fano factor
    * (variance/mean of per-hour counts — 1 for a Poisson arrival process,
    * higher = bursty) and peak-to-mean ratio — the load-profile audit that
    * sizes streaming capacity (a type with Fano 10 needs 10× headroom, not
    * avg×safety). Hours with zero events count as empty buckets over the
    * type's FULL observed span (otherwise quiet types look smooth).
    *
    * Determinism: per-hour counts are integers, and the variance comes off
    * exact bigint power sums (n, Σx, Σx²) via var = (Σx² − Σx²/n)/(n−1)
    * in fixed operation order — no float accumulation anywhere, so the
    * oracle matches bit-for-bit. Scale: two small aggregates (corpus →
    * \|types×hours\| → \|types\|), partial-agg friendly. */
  def burstiness(spark: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(spark, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
    hourly.groupBy(col("event_type"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"),
        count(lit(1)).as("n_active_hours"),
        sum(col("c")).as("sx"), sum(col("c") * col("c")).as("sxx"),
        max(col("c")).as("peak"))
      // span in hours INCLUDING empty buckets; integer hour arithmetic
      .withColumn("n_hours",
        expr("(unix_timestamp(h1) - unix_timestamp(h0)) div 3600 + 1"))
      .select(col("event_type"), col("n_hours"), col("n_active_hours"),
        col("sx").as("n_events"), col("peak"),
        round(col("sx").cast("double") / col("n_hours"), 4).as("mean_per_hour"),
        // var = (sxx - sx^2/n) / (n-1), fixed order; empty buckets add 0 to
        // both power sums so only n changes
        round((col("sxx").cast("double")
          - col("sx").cast("double") * col("sx") / col("n_hours"))
          / (col("n_hours") - 1L)
          / (col("sx").cast("double") / col("n_hours")), 4).as("fano"),
        round(col("peak").cast("double") / (col("sx").cast("double") / col("n_hours")), 4)
          .as("peak_to_mean"))
      .orderBy(col("event_type"))
  }

  val burstinessOracle: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |agg AS (
      |  SELECT event_type, min(h) AS h0, max(h) AS h1,
      |    count(*) AS n_active_hours,
      |    cast(sum(c) AS bigint) AS sx,
      |    cast(sum(c * c) AS bigint) AS sxx,
      |    cast(max(c) AS bigint) AS peak
      |  FROM hourly GROUP BY 1),
      |sp AS (
      |  SELECT *, (epoch(h1)::BIGINT - epoch(h0)::BIGINT) // 3600 + 1 AS n_hours
      |  FROM agg)
      |SELECT event_type, n_hours, cast(n_active_hours AS bigint) AS n_active_hours,
      |  sx AS n_events, peak,
      |  round(sx::DOUBLE / n_hours, 4) AS mean_per_hour,
      |  round((sxx::DOUBLE - sx::DOUBLE * sx / n_hours) / (n_hours - 1)
      |    / (sx::DOUBLE / n_hours), 4) AS fano,
      |  round(peak::DOUBLE / (sx::DOUBLE / n_hours), 4) AS peak_to_mean
      |FROM sp ORDER BY 1""".stripMargin

  /** 30-minute-gap sessionization per user. Two shuffles total: one to
    * co-locate each user's events (window function), then the session agg
    * reuses that partitioning. At 100 TB the window shuffle is per-user —
    * bounded by the busiest user, with AQE skew handling. */
  def sessionize(spark: SparkSession, d: String, gapSec: Long = 1800L): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > gapSec, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"),
        unix_timestamp(min(col("ts"))).as("session_start"),
        unix_timestamp(max(col("ts"))).as("session_end"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** JSON payload extraction from `data` + aggregation by extracted key —
    * the "parse the Wikimedia JSON" use case of the reference. */
  def jsonExtract(spark: SparkSession, d: String): DataFrame = {
    Tables.events(spark, d)
      .select(regexp_extract(col("props"), "[0-9]+", 0).cast("long").as("k"), col("value"))
      .withColumn("k_bucket", pmod(col("k"), lit(10L)))
      .groupBy(col("k_bucket"))
      .agg(count(lit(1)).as("n_events"), round(avg(col("value")), 4).as("avg_value"))
      .orderBy(col("k_bucket"))
  }

  /** Explicit StructType for the typed payload projection — mirrors the
    * field surface of the reference's published stream schema
    * (reference config/wikimedia.recentchange.schema.json: required
    * `meta{id,dt,stream}`, plus `id`/`type`/`title`/`namespace`/`bot`/
    * `length{old,new}`). Shared by the batch [[sseProject]] row and the
    * streaming twin so both sides parse against the SAME contract. */
  val payloadSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("$schema", StringType),
      StructField("meta", StructType(Seq(
        StructField("id", StringType), StructField("dt", StringType),
        StructField("domain", StringType), StructField("stream", StringType)))),
      StructField("id", LongType),
      StructField("type", StringType),
      StructField("title", StringType),
      StructField("namespace", IntegerType),
      StructField("bot", BooleanType),
      StructField("length", StructType(Seq(
        StructField("old", IntegerType), StructField("new", IntegerType))))))
  }

  /** Wire-shaped recentchange document for each event, assembled as TEXT
    * (concat, deliberately NOT `to_json(struct(...))` — Catalyst's
    * OptimizeJsonExprs would collapse `from_json(to_json(s))` back to `s`
    * and the JSON path would never execute). The repo's `props` payload
    * stands in for the reference's wire JSON; its `k` field becomes the
    * page title, and the remaining fields derive deterministically from
    * the event columns so the DuckDB oracle can reproduce the aggregate
    * without a JSON engine. */
  def payloadFrame: org.apache.spark.sql.Column =
    concat(
      lit("""{"$schema":"/mediawiki/recentchange/1.0.0","meta":{"id":""""),
      col("event_id").cast("string"),
      lit("""","dt":""""), date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
      lit("""","domain":"graft.test","stream":"graft."""),
      col("event_type"),
      lit(""""},"id":"""), col("event_id").cast("string"),
      lit(""","type":""""), col("event_type"),
      lit("""","title":"Page_"""), regexp_extract(col("props"), "[0-9]+", 0),
      lit("""","namespace":"""), (col("user_id") % 16).cast("int").cast("string"),
      lit(""","bot":"""), (col("user_id") % 7 === 0).cast("string"),
      lit(""","length":{"old":"""), length(col("props")).cast("string"),
      lit(""","new":"""),
      (length(col("props")) + (col("event_id") % 1000).cast("int")).cast("string"),
      lit("}}"))

  /** Typed-schema projection of the SSE payload — the reference's actual
    * consumption pattern: its users deserialize `data` against the
    * published JSON schema (reference
    * config/wikimedia.recentchange.schema.json, declared in
    * wikipedia-edit-connect-schema.json) into a typed record, not a
    * string. Each event's wire document ([[payloadFrame]]) is projected
    * through `from_json` with the explicit [[payloadSchema]] StructType
    * into nested typed columns (`rec.meta.stream`, `rec.length.new`, …)
    * and aggregated on them. Stateless map + partial-agg shuffle on
    * (stream, namespace): at 100 TB the parse is embarrassingly parallel
    * and the shuffle carries only group keys + counters. */
  def sseProject(spark: SparkSession, d: String): DataFrame = {
    Tables.events(spark, d)
      .select(from_json(payloadFrame, payloadSchema).as("rec"))
      .select(
        col("rec.meta.stream").as("stream"),
        col("rec.namespace").as("namespace"),
        col("rec.bot").as("bot"),
        col("rec.title").as("title"),
        col("rec.meta.dt").as("dt"),
        (col("rec.length.new") - col("rec.length.old")).as("delta"))
      .groupBy(col("stream"), col("namespace"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("bot").cast("long")).as("n_bots"),
        sum(col("delta").cast("long")).as("sum_delta"),
        countDistinct(col("title")).as("n_titles"),
        min(col("dt")).as("first_dt"),
        max(col("dt")).as("last_dt"))
      .orderBy(col("stream"), col("namespace"))
  }

  val sseProjectOracle: String =
    """SELECT 'graft.'||event_type AS stream, cast(user_id % 16 AS int) AS namespace,
      | count(*) AS n_events,
      | cast(sum(CASE WHEN user_id % 7 = 0 THEN 1 ELSE 0 END) AS bigint) AS n_bots,
      | cast(sum(event_id % 1000) AS bigint) AS sum_delta,
      | count(DISTINCT 'Page_'||regexp_extract(props,'[0-9]+')) AS n_titles,
      | min(strftime(ts,'%Y-%m-%dT%H:%M:%SZ')) AS first_dt,
      | max(strftime(ts,'%Y-%m-%dT%H:%M:%SZ')) AS last_dt
      |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  /** ExtractField SMT analogue — the reference's deployment promotes one
    * payload field to the record value with
    * `transforms.extractjson.type=ExtractField$Value, field=data`
    * (reference bin/submit_config_extract_field.sh:17-19). Here the typed
    * `k` field of the payload is promoted to the RECORD KEY, so the
    * producer-side hash partition is computed from the promoted key rather
    * than the event id — composing with [[sseRoute]]'s partition
    * semantics (same `pmod(key, 32)` stand-in for the Kafka partitioner,
    * reproducible by the oracle). */
  def sseExtractField(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val kSchema = StructType(Seq(StructField("k", LongType)))
    Tables.events(spark, d)
      .select(concat(lit("sse_"), col("event_type")).as("topic"),
        from_json(col("props"), kSchema).getField("k").as("key"))
      .groupBy(col("topic"), pmod(col("key"), lit(32L)).cast("int").as("partition"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("key")).as("n_keys"))
      .orderBy(col("topic"), col("partition"))
  }

  val sseExtractFieldOracle: String =
    """SELECT 'sse_'||event_type AS topic,
      | cast(cast(regexp_extract(props,'[0-9]+') AS bigint) % 32 AS int) AS "partition",
      | count(*) AS n_events,
      | count(DISTINCT cast(regexp_extract(props,'[0-9]+') AS bigint)) AS n_keys
      |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  /** XML payload decode (`sse_xml_extract`) — the reference roadmap's
    * Step-10 "content types: JSON, XML, etc." (reference
    * IMPROVEMENT_PLAN.md:65-68; the JSON half is `sse_project` /
    * `sse_extract_field` / `sse_schema_infer`): events re-encoded as XML
    * envelopes (the variant-corpus convention — the corpus IS the test
    * vector) and decoded back with Spark's NATIVE xpath expressions —
    * element text (`/event/type`, `/event/cents`) and attributes
    * (`/event/@id`, `/event/user/@uid`) — then rolled up per type, so a
    * value mismatch anywhere in the encode→parse→aggregate loop fails
    * the oracle. Cents ride the `floor(x·100 + 0.5)` integer convention
    * (bit-exact both engines). Decode is Spark 4's NATIVE `from_xml` —
    * ONE StaxXmlParser pass per document into a typed struct (attributes
    * via the `_` prefix), the same ship-a-schema contract as
    * `sse_project`'s from_json; the xpath_* route was measured 4× slower
    * here because each of the four xpath calls re-parses the document.
    * The decode is the pipeline's one non-codegen expression (the WHATWG-
    * parser rule: decode operators own that cost); everything downstream
    * is one partial agg. The DuckDB twin decodes the same constrained
    * envelopes with anchored regexp_extract — equivalent on
    * attribute-quoted, entity-free XML by construction. */
  def xmlExtract(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .select(concat(
        lit("<event id=\""), col("event_id"), lit("\"><type>"),
        col("event_type"), lit("</type><user uid=\""), col("user_id"),
        lit("\"/><cents>"), floor(col("value") * 100 + 0.5).cast("long"),
        lit("</cents></event>")).as("p"))
      .select(expr(
        "from_xml(p, '_id BIGINT, type STRING, user STRUCT<_uid: BIGINT>, cents BIGINT')")
        .as("e"))
      .select(
        col("e.type").as("event_type"),
        col("e._id").as("event_id"),
        col("e.user._uid").as("user_id"),
        col("e.cents").as("cents"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .orderBy(col("event_type"))

  val xmlExtractOracle: String =
    """WITH x AS (
      |  SELECT '<event id="' || cast(event_id AS varchar) || '"><type>' ||
      |    event_type || '</type><user uid="' || cast(user_id AS varchar) ||
      |    '"/><cents>' || cast(cast(floor(value*100 + 0.5) AS bigint) AS varchar) ||
      |    '</cents></event>' AS p
      |  FROM events),
      |d AS (
      |  SELECT regexp_extract(p, '<type>([^<]*)</type>', 1) AS event_type,
      |    cast(regexp_extract(p, '<event id="(\d+)"', 1) AS bigint) AS event_id,
      |    cast(regexp_extract(p, 'uid="(\d+)"', 1) AS bigint) AS user_id,
      |    cast(regexp_extract(p, '<cents>(-?\d+)</cents>', 1) AS bigint) AS cents
      |  FROM x)
      |SELECT event_type, count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users,
      |  cast(sum(cents) AS bigint) AS sum_cents,
      |  min(event_id) AS min_event_id, max(event_id) AS max_event_id
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  /** CSV payload decode (`sse_csv_extract`) — with `sse_project` (JSON)
    * and `xmlExtract` (XML) this closes the reference roadmap's Step-10
    * content-type list ("JSON, XML, etc."): SSE `data:` payloads carrying
    * CSV records decode through Spark's native `from_csv` (one UnivocityParser
    * pass per record into a typed struct — the same one-pass discipline
    * the XML row measured 25× over per-field re-parsing). The type field
    * is QUOTED and contains an embedded comma (`"t,click"`), so the
    * operator exercises real CSV quoting semantics — a naive split would
    * mis-field every record. Stateless map + per-type aggregate; the
    * oracle parses the same constrained records with one anchored regex. */
  def csvExtract(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .select(concat(
        col("event_id"), lit(",\"t,"), col("event_type"), lit("\","),
        col("user_id"), lit(","),
        floor(col("value") * 100 + 0.5).cast("long")).as("p"))
      .select(expr(
        "from_csv(p, 'id BIGINT, typ STRING, uid BIGINT, cents BIGINT')").as("e"))
      .select(expr("substring(e.typ, 3)").as("event_type"),
        col("e.id").as("event_id"), col("e.uid").as("user_id"),
        col("e.cents").as("cents"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .orderBy(col("event_type"))

  val csvExtractOracle: String =
    """WITH x AS (
      |  SELECT cast(event_id AS varchar) || ',"t,' || event_type || '",' ||
      |    cast(user_id AS varchar) || ',' ||
      |    cast(cast(floor(value*100 + 0.5) AS bigint) AS varchar) AS p
      |  FROM events),
      |d AS (
      |  SELECT cast(regexp_extract(p,
      |      '^(\d+),"t,([^"]*)",(\d+),(-?\d+)$', 1) AS bigint) AS event_id,
      |    regexp_extract(p, '^(\d+),"t,([^"]*)",(\d+),(-?\d+)$', 2) AS event_type,
      |    cast(regexp_extract(p,
      |      '^(\d+),"t,([^"]*)",(\d+),(-?\d+)$', 3) AS bigint) AS user_id,
      |    cast(regexp_extract(p,
      |      '^(\d+),"t,([^"]*)",(\d+),(-?\d+)$', 4) AS bigint) AS cents
      |  FROM x)
      |SELECT event_type, count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users,
      |  cast(sum(cents) AS bigint) AS sum_cents,
      |  min(event_id) AS min_event_id, max(event_id) AS max_event_id
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  /** Top-N users by purchase value (rank over aggregated totals). */
  def topNUsers(spark: SparkSession, d: String, n: Int = 10): DataFrame = {
    Tables.events(spark, d)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(round(sum(col("value")), 2).as("total_value"), count(lit(1)).as("n_purchases"))
      .orderBy(col("total_value").desc, col("user_id"))
      .limit(n)
  }

  /** Funnel analysis: per user, the first signup, the first click after it,
    * and the first purchase after that. Three conditional-min aggregations
    * joined on user — each pass is a partial-agg-friendly shuffle by user,
    * never a sequence scan holding per-user state. */
  def funnel(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
      .select(col("user_id"), col("event_type"), unix_timestamp(col("ts")).as("tsec"))
    val su = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("tsec"))).as("t_signup"))
      .filter(col("t_signup").isNotNull)
    val cu = ev.join(su, "user_id")
      .filter(col("event_type") === "click" && col("tsec") > col("t_signup"))
      .groupBy(col("user_id")).agg(min(col("tsec")).as("t_click"))
    val pu = ev.join(cu, "user_id")
      .filter(col("event_type") === "purchase" && col("tsec") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("tsec")).as("t_purchase"))
    su.join(cu, Seq("user_id"), "left").join(pu, Seq("user_id"), "left")
      .select(col("user_id"), col("t_signup"), col("t_click"), col("t_purchase"))
      .orderBy(col("user_id"))
  }

  val funnelOracle: String =
    """WITH ev AS (SELECT user_id, event_type,
      |    cast(floor(epoch(ts)) AS bigint) AS tsec FROM events),
      |su AS (
      |  SELECT user_id, min(CASE WHEN event_type='signup' THEN tsec END) AS t_signup
      |  FROM ev GROUP BY 1 HAVING t_signup IS NOT NULL),
      |cu AS (
      |  SELECT ev.user_id, min(tsec) AS t_click
      |  FROM ev JOIN su ON ev.user_id = su.user_id
      |  WHERE event_type='click' AND tsec > t_signup GROUP BY 1),
      |pu AS (
      |  SELECT ev.user_id, min(tsec) AS t_purchase
      |  FROM ev JOIN cu ON ev.user_id = cu.user_id
      |  WHERE event_type='purchase' AND tsec > t_click GROUP BY 1)
      |SELECT su.user_id, t_signup, t_click, t_purchase
      |FROM su LEFT JOIN cu ON su.user_id = cu.user_id
      |LEFT JOIN pu ON su.user_id = pu.user_id
      |ORDER BY su.user_id""".stripMargin

  /** Funnel drop-off table (`ev_funnel_steps`) — the product-analytics
    * view OVER the per-user [[funnel]] chain: one row per step with
    * survivors, share vs step 1 (bp), conversion vs the previous step
    * (bp), and the mean wait from the previous step (integer seconds,
    * truncating div — all counts and epoch-seconds, so the table is exact
    * cross-engine). One corpus pass builds the per-user frame (the same
    * three conditional-min shuffles as the funnel row), then ONE one-row
    * aggregate computes every cell and explodes to the 3-row report —
    * constant-size output at any corpus scale. */
  def funnelSteps(spark: SparkSession, d: String): DataFrame = {
    funnel(spark, d)
      .agg(count(col("t_signup")).as("n1"), count(col("t_click")).as("n2"),
        count(col("t_purchase")).as("n3"),
        coalesce(sum(col("t_click") - col("t_signup")), lit(0L)).as("w2"),
        coalesce(sum(col("t_purchase") - col("t_click")), lit(0L)).as("w3"))
      .select(explode(array(
        struct(lit(1L).as("step"), lit("signup").as("step_name"),
          col("n1").as("n_users"), lit(10000L).as("share_bp"),
          lit(10000L).as("conv_bp"), lit(0L).as("mean_wait_sec")),
        struct(lit(2L).as("step"), lit("click").as("step_name"),
          col("n2").as("n_users"),
          expr("CASE WHEN n1 = 0 THEN 0L ELSE n2 * 10000 div n1 END").as("share_bp"),
          expr("CASE WHEN n1 = 0 THEN 0L ELSE n2 * 10000 div n1 END").as("conv_bp"),
          expr("CASE WHEN n2 = 0 THEN 0L ELSE w2 div n2 END").as("mean_wait_sec")),
        struct(lit(3L).as("step"), lit("purchase").as("step_name"),
          col("n3").as("n_users"),
          expr("CASE WHEN n1 = 0 THEN 0L ELSE n3 * 10000 div n1 END").as("share_bp"),
          expr("CASE WHEN n2 = 0 THEN 0L ELSE n3 * 10000 div n2 END").as("conv_bp"),
          expr("CASE WHEN n3 = 0 THEN 0L ELSE w3 div n3 END").as("mean_wait_sec"))))
        .as("s"))
      .select(col("s.step"), col("s.step_name"), col("s.n_users"),
        col("s.share_bp"), col("s.conv_bp"), col("s.mean_wait_sec"))
      .orderBy(col("step"))
  }

  val funnelStepsOracle: String =
    """WITH ev AS (SELECT user_id, event_type,
      |    cast(floor(epoch(ts)) AS bigint) AS tsec FROM events),
      |su AS (
      |  SELECT user_id, min(CASE WHEN event_type='signup' THEN tsec END) AS t_signup
      |  FROM ev GROUP BY 1 HAVING t_signup IS NOT NULL),
      |cu AS (
      |  SELECT ev.user_id, min(tsec) AS t_click
      |  FROM ev JOIN su ON ev.user_id = su.user_id
      |  WHERE event_type='click' AND tsec > t_signup GROUP BY 1),
      |pu AS (
      |  SELECT ev.user_id, min(tsec) AS t_purchase
      |  FROM ev JOIN cu ON ev.user_id = cu.user_id
      |  WHERE event_type='purchase' AND tsec > t_click GROUP BY 1),
      |f AS (
      |  SELECT su.user_id, t_signup, t_click, t_purchase
      |  FROM su LEFT JOIN cu ON su.user_id = cu.user_id
      |  LEFT JOIN pu ON su.user_id = pu.user_id),
      |a AS (
      |  SELECT cast(count(t_signup) AS bigint) AS n1,
      |    cast(count(t_click) AS bigint) AS n2,
      |    cast(count(t_purchase) AS bigint) AS n3,
      |    cast(coalesce(sum(t_click - t_signup), 0) AS bigint) AS w2,
      |    cast(coalesce(sum(t_purchase - t_click), 0) AS bigint) AS w3
      |  FROM f)
      |SELECT * FROM (
      |  SELECT cast(1 AS bigint) AS step, 'signup' AS step_name, n1 AS n_users,
      |    cast(10000 AS bigint) AS share_bp, cast(10000 AS bigint) AS conv_bp,
      |    cast(0 AS bigint) AS mean_wait_sec FROM a
      |  UNION ALL
      |  SELECT 2, 'click', n2,
      |    CASE WHEN n1 = 0 THEN 0 ELSE n2 * 10000 // n1 END,
      |    CASE WHEN n1 = 0 THEN 0 ELSE n2 * 10000 // n1 END,
      |    CASE WHEN n2 = 0 THEN 0 ELSE w2 // n2 END FROM a
      |  UNION ALL
      |  SELECT 3, 'purchase', n3,
      |    CASE WHEN n1 = 0 THEN 0 ELSE n3 * 10000 // n1 END,
      |    CASE WHEN n2 = 0 THEN 0 ELSE n3 * 10000 // n2 END,
      |    CASE WHEN n3 = 0 THEN 0 ELSE w3 // n3 END FROM a)
      |ORDER BY step""".stripMargin

  /** Cohort retention: users per (first-active week, week offset). Weeks
    * are epoch-seconds div 604800 — pure integer arithmetic. */
  def retention(spark: SparkSession, d: String): DataFrame = {
    val weekly = Tables.events(spark, d)
      .select(col("user_id"),
        (unix_timestamp(col("ts")) / 604800L).cast("long").as("week"))
      .distinct()
    val cohort = weekly.groupBy(col("user_id")).agg(min(col("week")).as("w0"))
    weekly.join(cohort, "user_id")
      .groupBy(col("w0").as("cohort_week"), (col("week") - col("w0")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val retentionOracle: String =
    """WITH weekly AS (
      |  SELECT DISTINCT user_id,
      |    cast(floor(epoch(ts)) AS bigint) // 604800 AS week
      |  FROM events),
      |cohort AS (SELECT user_id, min(week) AS w0 FROM weekly GROUP BY 1)
      |SELECT w0 AS cohort_week, week - w0 AS week_offset,
      |  count(DISTINCT weekly.user_id) AS n_users
      |FROM weekly JOIN cohort ON weekly.user_id = cohort.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Skew-resilient two-phase aggregation: pre-aggregate on (key, salt),
    * then merge partials per key. Identical result to a direct groupBy, but
    * no single reducer ever sees more than 1/nSalts of a hot key's rows —
    * the standard defense when key cardinality is tiny (5 event types here)
    * or one key dominates. The salt is deterministic (id mod nSalts) so the
    * operator stays reproducible. */
  def aggSalted(spark: SparkSession, d: String, nSalts: Int = 16): DataFrame = {
    val partial = Tables.events(spark, d)
      .withColumn("salt", pmod(col("event_id"), lit(nSalts.toLong)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"), sum(col("value")).as("psum"))
    partial.groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n_events"),
        round(sum(col("psum")), 2).as("sum_value"),
        round(sum(col("psum")) / sum(col("pn")), 4).as("avg_value"))
      .orderBy(col("event_type"))
  }

  /** Statistical anomaly detection: per-type value z-scores, emitting the
    * top-20 outliers. Two passes: per-type moments (partial-agg friendly),
    * then a broadcast join back — no window over the raw stream.
    *
    * Top-k runs as orderBy+limit, which Spark plans as TakeOrderedAndProject
    * (per-partition partial top-k merged once) — every partition keeps at
    * most k rows, so the full stream never lands on one reducer. Rank is
    * then derived from the ≤k surviving rows with sort_array+posexplode;
    * no global window anywhere in the plan (PlanSpec asserts this). */
  def anomalies(spark: SparkSession, d: String, k: Int = 20): DataFrame = {
    val ev = Tables.events(spark, d)
    val stats = ev.groupBy(col("event_type"))
      .agg(avg(col("value")).as("mean"), stddev_samp(col("value")).as("sd"))
    val scored = ev.join(broadcast(stats), "event_type")
      .select(col("event_id"), col("event_type"), round(col("value"), 2).as("value"),
        round((col("value") - col("mean")) / col("sd"), 4).as("z"))
    val topk = scored.orderBy(abs(col("z")).desc, col("event_id")).limit(k)
    topk
      .agg(sort_array(collect_list(struct(
        (-abs(col("z"))).as("neg_abs_z"), col("event_id").as("event_id"),
        col("event_type").as("event_type"), col("value").as("value"),
        col("z").as("z")))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "r")))
      .select(col("r.event_id").as("event_id"), col("r.event_type").as("event_type"),
        col("r.value").as("value"), col("r.z").as("z"),
        (col("pos") + 1).cast("int").as("rank"))
      .orderBy(col("rank"))
  }

  val anomaliesOracle: String =
    """WITH stats AS (
      |  SELECT event_type, avg(value) AS mean, stddev_samp(value) AS sd
      |  FROM events GROUP BY 1),
      |scored AS (
      |  SELECT event_id, e.event_type, round(value, 2) AS value,
      |    round((value - mean) / sd, 4) AS z
      |  FROM events e JOIN stats s ON e.event_type = s.event_type),
      |r AS (SELECT *, cast(row_number() OVER
      |  (ORDER BY abs(z) DESC, event_id) AS int) AS rank FROM scored)
      |SELECT event_id, event_type, value, z, rank FROM r
      |WHERE rank <= 20 ORDER BY rank""".stripMargin

  /** Event-type transition matrix (Markov bigrams): for each user's
    * time-ordered event sequence, count (previous type → type) pairs across
    * the whole stream. One shuffle co-locates each user (the lag window),
    * then the transition counts partial-aggregate down to |types|² groups —
    * the path-analysis primitive behind funnel discovery. */
  def userPaths(spark: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val userPathsOracle: String =
    """WITH seq AS (
      |  SELECT event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
      |  FROM events)
      |SELECT from_type, event_type AS to_type, count(*) AS n_transitions
      |FROM seq WHERE from_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Exact per-type value quantiles (p50/p90/p99, linear interpolation).
    * Exact `percentile` shuffles each group's values once; at 100 TB the
    * KMV/sketch family or approx_percentile takes over, but the exact form
    * is the calibration baseline. Interpolation arithmetic on identically
    * sorted doubles is engine-identical; round 4 guards the arithmetic. */
  def valueQuantiles(spark: SparkSession, d: String): DataFrame = {
    val qs = percentile(col("value"), array(lit(0.5), lit(0.9), lit(0.99)))
    Tables.events(spark, d)
      .groupBy(col("event_type"))
      .agg(round(element_at(qs, 1), 4).as("p50"),
        round(element_at(qs, 2), 4).as("p90"),
        round(element_at(qs, 3), 4).as("p99"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
  }

  val valueQuantilesOracle: String =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.5), 4) AS p50,
      |  round(quantile_cont(value, 0.9), 4) AS p90,
      |  round(quantile_cont(value, 0.99), 4) AS p99,
      |  count(*) AS n_events
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Log-linear bucket counts per event type — the mergeable quantile
    * sketch's state, exposed so specs (and incremental corpus builds) can
    * merge partial sketches. Bucketing is HdrHistogram-style log-linear
    * over integer cents: octave e = bit-length of the cent value, then
    * [[QuantileSketchSubBuckets]] linear sub-buckets inside the octave —
    * ALL integer arithmetic (bit-length + integer div), so Spark and
    * DuckDB agree on every bucket id exactly, where a float `log()` could
    * flip a boundary ulp between engines. Relative bucket width 1/16 →
    * mid-bucket quantile error ≤ ~1/32 (bounded by QuantileSketchSpec).
    *
    * Scale story: the sketch is an associative count map — partial
    * aggregation combines map-side, the shuffle carries at most
    * |types|×|buckets| rows (bounded by the VALUE RANGE, not the corpus),
    * and merging two corpora's sketches is summing counts. This is the
    * 100 TB path where exact `percentile` ([[valueQuantiles]]) must
    * shuffle every group's values. */
  def quantileSketchCounts(ev: DataFrame): DataFrame =
    ev.select(col("event_type"),
        // cent values below 1 (zero/negative inputs) clamp into the lowest
        // bucket (underflow bucket) — keeps every downstream operand
        // non-negative so bit-length/shift/div agree across Spark, DuckDB,
        // and the streaming JVM mirror (StreamOps.bucket31) by construction
        greatest(floor(col("value") * 100.0 + 0.5).cast("long"), lit(1L)).as("vc"))
      .withColumn("e", length(bin(col("vc"))))
      .withColumn("lo", expr("shiftleft(cast(1 as bigint), e - 1)"))
      .withColumn("idx",
        expr(s"(cast(e as bigint) - 1) * $QuantileSketchSubBuckets" +
          s" + ((vc - lo) * $QuantileSketchSubBuckets div lo)"))
      .groupBy(col("event_type"), col("idx"))
      .agg(count(lit(1)).as("cnt"))

  /** Linear sub-buckets per octave: the sketch's accuracy knob. */
  val QuantileSketchSubBuckets = 16

  /** Quantile estimates (p50/p90/p99) off the mergeable log-linear sketch,
    * beside the exact [[valueQuantiles]] baseline. Estimate = midpoint of
    * the bucket where the cumulative count crosses ceil(q·n); the rank
    * walk runs over the TINY sketch (windows partitioned per type over
    * ≤ |buckets| rows), not the corpus. Bucket ids, counts, and the
    * midpoint arithmetic are engine-exact, so the DuckDB oracle reproduces
    * the estimates bit-for-bit. */
  def quantileSketch(spark: SparkSession, d: String): DataFrame = {
    val m = QuantileSketchSubBuckets
    val sk = quantileSketchCounts(Tables.events(spark, d))
    val cum = sk
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("event_type")).orderBy(col("idx"))))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
    def pick(q: Double, as: String) =
      min(when(col("cum") >= ceil(lit(q) * col("n")), col("idx"))).as(as)
    // same textual arithmetic as the oracle: (lo + (sub + 0.5)·lo/m) / 100
    // (double literals need the D suffix — bare 16.0 parses as DECIMAL)
    def est(i: String) = expr(
      s"round((shiftleft(cast(1 as bigint), cast($i div $m as int))" +
        s" + (($i % $m) + 0.5D) * shiftleft(cast(1 as bigint), cast($i div $m as int))" +
        s" / ${m}.0D) / 100.0D, 4)")
    cum.groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"), count(lit(1)).as("n_buckets"),
        pick(0.50, "i50"), pick(0.90, "i90"), pick(0.99, "i99"))
      .select(col("event_type"), col("n_events"), col("n_buckets"),
        est("i50").as("p50_est"), est("i90").as("p90_est"), est("i99").as("p99_est"))
      .orderBy(col("event_type"))
  }

  val quantileSketchOracle: String = {
    val m = QuantileSketchSubBuckets
    def est(i: String) =
      s"round(((1::bigint << cast($i // $m AS int))" +
        s" + (($i % $m) + 0.5) * (1::bigint << cast($i // $m AS int))" +
        s" / $m.0) / 100.0, 4)"
    s"""WITH v AS (
       |  SELECT event_type,
       |    greatest(cast(floor(value * 100 + 0.5) AS bigint), 1) AS vc
       |  FROM events),
       |b AS (
       |  SELECT event_type,
       |    (length(bin(vc)) - 1) * $m +
       |    ((vc - (1::bigint << (length(bin(vc)) - 1))) * $m)
       |      // (1::bigint << (length(bin(vc)) - 1)) AS idx
       |  FROM v),
       |sk AS (SELECT event_type, idx, count(*) AS cnt FROM b GROUP BY 1, 2),
       |cum AS (
       |  SELECT event_type, idx, cnt,
       |    sum(cnt) OVER (PARTITION BY event_type ORDER BY idx) AS cum,
       |    sum(cnt) OVER (PARTITION BY event_type) AS n
       |  FROM sk),
       |picked AS (
       |  SELECT event_type, max(n) AS n_events, count(*) AS n_buckets,
       |    min(CASE WHEN cum >= ceil(0.5 * n) THEN idx END) AS i50,
       |    min(CASE WHEN cum >= ceil(0.9 * n) THEN idx END) AS i90,
       |    min(CASE WHEN cum >= ceil(0.99 * n) THEN idx END) AS i99
       |  FROM cum GROUP BY 1)
       |SELECT event_type, cast(n_events AS bigint) AS n_events, n_buckets,
       |  ${est("i50")} AS p50_est, ${est("i90")} AS p90_est,
       |  ${est("i99")} AS p99_est
       |FROM picked ORDER BY 1""".stripMargin
  }

  /** KMV (k-minimum-values) distinct-count sketch per event type, next to
    * the exact count so the estimate error is visible. The sketch keeps the
    * k smallest distinct md5-derived hashes per group; estimate =
    * (k−1)·P / kth_min for hashes uniform on [0, P). KMV is the scale
    * story for distinct counting: sketches merge associatively (union the
    * hash sets, re-take k smallest), so partial sketches combine map-side
    * and shuffle k values per group — countDistinct shuffles every
    * distinct key. Deterministic (hash-based, no RNG), so the DuckDB
    * oracle reproduces it bit-for-bit. The rank filter plans a map-side
    * WindowGroupLimit: each task holds a bounded k-row heap per group. */
  def distinctSketch(spark: SparkSession, d: String, k: Int = 64): DataFrame = {
    import graft.functions.Kernels.{hash31, P}
    val ev = Tables.events(spark, d)
    val hashed = ev
      .select(col("event_type"), hash31(col("user_id").cast("string")).as("h"))
      .distinct()
    val byType = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val sketch = hashed
      .withColumn("rn", row_number().over(byType))
      .filter(col("rn") <= k)
      .groupBy(col("event_type"))
      .agg(max(col("h")).as("kth"), count(lit(1)).as("n_in_sketch"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    sketch.join(exact, "event_type")
      .select(col("event_type"), col("exact_distinct"),
        when(col("n_in_sketch") < k, col("n_in_sketch"))
          .otherwise(floor(lit((k - 1).toDouble) * P / col("kth")))
          .cast("long").as("sketch_estimate"),
        col("n_in_sketch"))
      .orderBy(col("event_type"))
  }

  val distinctSketchOracle: String = {
    import graft.functions.Kernels.{sqlHash31, P}
    s"""WITH hashed AS (
       |  SELECT DISTINCT event_type,
       |    ${sqlHash31("cast(user_id AS varchar)")} AS h
       |  FROM events),
       |ranked AS (
       |  SELECT event_type, h,
       |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |  FROM hashed),
       |sk AS (
       |  SELECT event_type, max(h) AS kth, count(*) AS n_in_sketch
       |  FROM ranked WHERE rn <= 64 GROUP BY 1),
       |ex AS (
       |  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
       |  FROM events GROUP BY 1)
       |SELECT sk.event_type, exact_distinct,
       |  cast(CASE WHEN n_in_sketch < 64 THEN n_in_sketch
       |    ELSE floor(63.0 * $P / kth) END AS bigint) AS sketch_estimate,
       |  n_in_sketch
       |FROM sk JOIN ex ON sk.event_type = ex.event_type
       |ORDER BY 1""".stripMargin
  }

  /** HyperLogLog distinct-count sketch per event type, beside the KMV
    * sketch (same 64-slot budget) and the exact count so the estimate
    * error is visible. Registers are all-integer: bucket = low 6 bits of
    * the 60-bit md5 hash, rho = leading-zero rank of the remaining 54-bit
    * word (1 + 54 − bit length, zero word → 55), register = max(rho).
    *
    * The harmonic sum is kept in INTEGER form: S = Σ_j 2^(55−M_j) — a
    * bigint bounded by 64·2^55 < 2^63, exact and order-independent, where
    * summing the float 2^−M terms directly could round differently per
    * shuffle order (the partial sums span > 53 mantissa bits). Empty
    * registers contribute 2^55 (M = 0). The single float step is the final
    * α·m²·2^55 / S in fixed literal order, so DuckDB reproduces the
    * estimate bit-for-bit.
    *
    * Raw estimator only — deliberately NO small-range linear-counting
    * branch: that branch needs ln(), whose last ulp is not contracted
    * across engines; the exact count sits beside the estimate so small-n
    * bias is visible rather than silently corrected.
    *
    * Scale story: registers are a 64-slot max-merge — partial aggregation
    * combines map-side, the shuffle carries ≤ |types|·64 rows, and two
    * corpora's sketches merge by register max, which also makes the sketch
    * idempotent under replay (the property the streaming twin
    * [[graft.streaming.StreamOps.hllSketch]] spec pins). */
  def hllDistinct(spark: SparkSession, d: String, m: Int = 64): DataFrame = {
    import graft.functions.Kernels.hash60
    require(m == 64, "register math below is specialized to m=64")
    val ev = Tables.events(spark, d)
    val regs = ev
      .select(col("event_type"), hash60(col("user_id").cast("string")).as("h"))
      .select(col("event_type"), pmod(col("h"), lit(m.toLong)).as("bucket"),
        expr(s"h div $m").as("w"))
      .select(col("event_type"), col("bucket"),
        when(col("w") === 0, lit(55)).otherwise(lit(55) - length(bin(col("w")))).as("rho"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("M"))
    val sketch = regs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_regs_used"),
        sum(expr("shiftleft(cast(1 as bigint), cast(55 - M as int))")).as("s_ne"))
      .withColumn("S", col("s_ne") + (lit(m.toLong) - col("n_regs_used")) * lit(1L << 55))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    sketch.join(exact, "event_type")
      .select(col("event_type"), col("exact_distinct"),
        round(lit(0.709) * lit(4096.0) * lit((1L << 55).toDouble) / col("S"), 4)
          .as("hll_estimate"),
        col("n_regs_used"))
      .orderBy(col("event_type"))
  }

  val hllDistinctOracle: String = {
    import graft.functions.Kernels.sqlHash60
    s"""WITH h AS (
       |  SELECT event_type,
       |    ${sqlHash60("cast(user_id AS varchar)")} AS h
       |  FROM events),
       |rb AS (
       |  SELECT event_type, h % 64 AS bucket,
       |    CASE WHEN h // 64 = 0 THEN 55
       |         ELSE 55 - length(bin(h // 64)) END AS rho
       |  FROM h),
       |regs AS (
       |  SELECT event_type, bucket, max(rho) AS M FROM rb GROUP BY 1, 2),
       |sk AS (
       |  SELECT event_type, count(*) AS n_regs_used,
       |    sum(1::bigint << (55 - M)) AS s_ne
       |  FROM regs GROUP BY 1),
       |st AS (
       |  SELECT event_type, n_regs_used,
       |    cast(s_ne + (64 - n_regs_used) * (1::bigint << 55) AS bigint) AS S
       |  FROM sk),
       |ex AS (
       |  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
       |  FROM events GROUP BY 1)
       |SELECT st.event_type, exact_distinct,
       |  round(0.709::DOUBLE * 4096::DOUBLE * (1::bigint << 55)::DOUBLE / S, 4)
       |    AS hll_estimate,
       |  cast(n_regs_used AS bigint) AS n_regs_used
       |FROM st JOIN ex ON st.event_type = ex.event_type
       |ORDER BY 1""".stripMargin
  }

  /** Top-k users per hour window by value sum — per-group top-k over a
    * time-bucketed aggregate. Ranking runs on the ROUNDED sums (identical
    * in both engines) with a user tie-break; the rank filter plans a
    * map-side WindowGroupLimit. */
  def windowedTopK(spark: SparkSession, d: String, k: Int = 3): DataFrame = {
    val hourly = Tables.events(spark, d)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("user_id"))
      .agg(round(sum(col("value")), 2).as("value_sum"))
    val w = Window.partitionBy(col("window_start"))
      .orderBy(col("value_sum").desc, col("user_id"))
    hourly.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("window_start"), col("user_id"), col("value_sum"),
        col("rank").cast("int").as("rank"))
      .orderBy(col("window_start"), col("rank"))
  }

  val windowedTopKOracle: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS window_start, user_id,
      |    round(sum(value), 2) AS value_sum
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT *, cast(row_number() OVER (PARTITION BY window_start
      |  ORDER BY value_sum DESC, user_id) AS int) AS rank FROM hourly)
      |SELECT window_start, user_id, value_sum, rank FROM r
      |WHERE rank <= 3 ORDER BY window_start, rank""".stripMargin

  /** Event-time lateness / ordering audit per type — the watermark-tuning
    * input every streaming deployment needs: how out-of-order is the feed,
    * and by how much? Pairs with the streaming window/watermark operators
    * (graft.streaming.StreamOps): `withWatermark(delay)` drops events later
    * than `delay` behind the running max, so `late_frac` at a candidate
    * delay IS the data-loss estimate, and `max_late_us` bounds the delay
    * that loses nothing.
    *
    * Arrival model: the table replays through a simulated nShards-partition
    * transport (shard = event_id mod nShards; within a shard, arrival order
    * = event_id — how a partitioned log delivers). Disorder is measured
    * against each SHARD's running event-time max, the per-partition maximum
    * a Spark watermark actually tracks. The window partitions by shard —
    * cardinality is the transport's partition count (a parameter: thousands
    * at 100 TB), never a fixed attribute vocabulary.
    *
    * The raw table is globally time-ordered (zero disorder end-to-end), so
    * the audit plants it adversarially, like the dedup corpora: every 7th
    * event's event-time slips back (event_id mod 13 + 1)·30 min —
    * deterministic integer-µs arithmetic mirrored in the oracle, big enough
    * to cross within-shard gaps at every SF. */
  def lateness(spark: SparkSession, d: String, nShards: Int = 64): DataFrame = {
    val ev = Tables.events(spark, d)
      .select(col("event_id"), col("event_type"),
        pmod(col("event_id"), lit(nShards.toLong)).as("shard"),
        unix_micros(col("ts")).as("us"))
      .withColumn("us2",
        when(pmod(col("event_id"), lit(7L)) === 3L,
          col("us") - (pmod(col("event_id"), lit(13L)) + 1L) * 1800000000L)
          .otherwise(col("us")))
    val byShard = Window.partitionBy(col("shard")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("runmax", max(col("us2")).over(byShard))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("us2") < col("runmax"), 1L).otherwise(0L)).as("n_late"),
        round(sum(when(col("us2") < col("runmax"), 1L).otherwise(0L)) /
          count(lit(1)).cast("double"), 4).as("late_frac"),
        max(when(col("us2") < col("runmax"), col("runmax") - col("us2"))
          .otherwise(0L)).as("max_late_us"))
      .orderBy(col("event_type"))
  }

  val latenessOracle: String =
    """WITH ev AS (
      |  SELECT event_id, event_type, event_id % 64 AS shard, epoch_us(ts) AS us
      |  FROM events),
      |adj AS (
      |  SELECT event_id, event_type, shard,
      |    CASE WHEN event_id % 7 = 3
      |         THEN us - ((event_id % 13) + 1) * 1800000000
      |         ELSE us END AS us2
      |  FROM ev),
      |w AS (
      |  SELECT event_type, us2,
      |    max(us2) OVER (PARTITION BY shard ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
      |  FROM adj)
      |SELECT event_type, count(*) AS n_events,
      |  cast(sum(CASE WHEN us2 < runmax THEN 1 ELSE 0 END) AS bigint) AS n_late,
      |  round(sum(CASE WHEN us2 < runmax THEN 1 ELSE 0 END)
      |    / cast(count(*) AS double), 4) AS late_frac,
      |  max(CASE WHEN us2 < runmax THEN runmax - us2 ELSE 0 END) AS max_late_us
      |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  /** Watermark-delay recommendation per event type — the decision query on
    * top of the [[lateness]] audit: the smallest delay that would lose
    * under 1% / under 0.1% / nothing, as EXACT order statistics of the
    * per-event lateness distribution (value at rank ceil(q·n)). Rank
    * thresholds use integer arithmetic — ceil(99n/100) = (99n+99) div 100 —
    * because 0.99·n in floats is not binary-exact and could ceil apart
    * across engines. Same planted disorder and shard structure as the
    * audit; ties in lateness cannot affect the selected value. At 100 TB
    * the rank walk shares the per-type window partitioning — nothing new
    * shuffles. */
  def watermarkRecommend(spark: SparkSession, d: String, nShards: Int = 64): DataFrame = {
    val ev = Tables.events(spark, d)
      .select(col("event_id"), col("event_type"),
        pmod(col("event_id"), lit(nShards.toLong)).as("shard"),
        unix_micros(col("ts")).as("us"))
      .withColumn("us2",
        when(pmod(col("event_id"), lit(7L)) === 3L,
          col("us") - (pmod(col("event_id"), lit(13L)) + 1L) * 1800000000L)
          .otherwise(col("us")))
    val byShard = Window.partitionBy(col("shard")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val late = ev.withColumn("runmax", max(col("us2")).over(byShard))
      .select(col("event_type"),
        greatest(coalesce(col("runmax") - col("us2"), lit(0L)), lit(0L)).as("late_us"))
    late
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("late_us"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"),
        min(when(col("rn") >= expr("(99 * n + 99) div 100"), col("late_us")))
          .as("delay_p99_us"),
        min(when(col("rn") >= expr("(999 * n + 999) div 1000"), col("late_us")))
          .as("delay_p999_us"),
        max(col("late_us")).as("delay_max_us"))
      .orderBy(col("event_type"))
  }

  val watermarkRecommendOracle: String =
    """WITH ev AS (
      |  SELECT event_id, event_type, event_id % 64 AS shard, epoch_us(ts) AS us
      |  FROM events),
      |adj AS (
      |  SELECT event_id, event_type, shard,
      |    CASE WHEN event_id % 7 = 3
      |         THEN us - ((event_id % 13) + 1) * 1800000000
      |         ELSE us END AS us2
      |  FROM ev),
      |w AS (
      |  SELECT event_type, us2,
      |    max(us2) OVER (PARTITION BY shard ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
      |  FROM adj),
      |l AS (
      |  SELECT event_type,
      |    greatest(coalesce(runmax - us2, 0), 0) AS late_us
      |  FROM w),
      |r AS (
      |  SELECT event_type, late_us,
      |    row_number() OVER (PARTITION BY event_type ORDER BY late_us) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM l)
      |SELECT event_type, cast(max(n) AS bigint) AS n_events,
      |  cast(min(CASE WHEN rn >= (99 * n + 99) // 100 THEN late_us END)
      |    AS bigint) AS delay_p99_us,
      |  cast(min(CASE WHEN rn >= (999 * n + 999) // 1000 THEN late_us END)
      |    AS bigint) AS delay_p999_us,
      |  cast(max(late_us) AS bigint) AS delay_max_us
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  /** Latest event per user — Kafka log-compaction / upsert-view semantics. */
  def dedupLatest(spark: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, d)
      .withColumn("rn", row_number().over(byUser))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), round(col("value"), 2).as("value"),
        unix_timestamp(col("ts")).as("last_seen"))
      .orderBy(col("user_id"))
  }

  /** Two-sample conversion test (`ev_ab_test`): split users into A/B by
    * `user_id mod 2`, measure purchase conversion per arm, and report
    * the pooled two-proportion z statistic — the experiment readout an
    * event warehouse serves constantly. Per-user conversion is one
    * partial agg; the arms collapse to a single row of counts (conditional
    * aggregates, no pivot shuffle); the z arithmetic is a fixed
    * float expression over those integer counts (sqrt/division IEEE-equal
    * cross-engine, round-4 like every float boundary in the inventory). */
  def abTest(spark: SparkSession, d: String, minPurchases: Int = 14): DataFrame = {
    // every user purchases at least once in the synthetic stream, so raw
    // "ever purchased" is degenerate (both arms at 100% → z is 0/0);
    // convert on ≥ minPurchases, chosen at the per-user mean so the rate
    // sits mid-range at every SF
    val perUser = Tables.events(spark, d)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
      .select(col("user_id"),
        when(col("np") >= minPurchases, 1L).otherwise(0L).as("converted"))
      .withColumn("arm", pmod(col("user_id"), lit(2L)))
    val p = (col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b"))
    val denom = sqrt(p * (lit(1.0) - p) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    perUser
      .groupBy()
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 0, col("converted")).otherwise(0L)).as("conv_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 1, col("converted")).otherwise(0L)).as("conv_b"))
      .withColumn("rate_a_bp", expr("conv_a * 10000 div n_a"))
      .withColumn("rate_b_bp", expr("conv_b * 10000 div n_b"))
      .withColumn("z",
        when(denom > 0.0, round(
          (col("conv_a").cast("double") / col("n_a")
            - col("conv_b").cast("double") / col("n_b")) / denom, 4) + lit(0.0)))
  }

  val abTestOracle: String =
    """WITH u AS (
      |  SELECT user_id, user_id % 2 AS arm,
      |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
      |      THEN 1 ELSE 0 END AS converted
      |  FROM events GROUP BY 1),
      |c AS (
      |  SELECT
      |    cast(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS bigint) AS n_a,
      |    cast(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS bigint) AS conv_a,
      |    cast(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS bigint) AS n_b,
      |    cast(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS bigint) AS conv_b
      |  FROM u)
      |SELECT n_a, conv_a, n_b, conv_b,
      |  cast(conv_a * 10000 // n_a AS bigint) AS rate_a_bp,
      |  cast(conv_b * 10000 // n_b AS bigint) AS rate_b_bp,
      |  CASE WHEN sqrt(cast(conv_a + conv_b AS double) / (n_a + n_b) *
      |      (1.0 - cast(conv_a + conv_b AS double) / (n_a + n_b)) *
      |      (1.0 / n_a + 1.0 / n_b)) > 0.0 THEN
      |    round((cast(conv_a AS double) / n_a - cast(conv_b AS double) / n_b) /
      |      sqrt(cast(conv_a + conv_b AS double) / (n_a + n_b) *
      |        (1.0 - cast(conv_a + conv_b AS double) / (n_a + n_b)) *
      |        (1.0 / n_a + 1.0 / n_b)), 4) + 0.0 END AS z
      |FROM c""".stripMargin

  /** Last-touch attribution (`ev_attribution`): assign each purchase to
    * the user's most recent prior `click` or `view` within a 24 h
    * lookback — the marketing-attribution join every event warehouse
    * runs. No self-join: two conditional running maxima over the
    * user-partitioned event sequence carry the latest click/view
    * timestamp to each purchase row in ONE window pass (the as-of-join
    * family's window form), then the channel decision and the aggregate
    * are a map + tiny group. Ties at the same microsecond resolve to
    * `click` (>=), pinned in both engines. Revenue in exact cents. */
  def attribution(spark: SparkSession, d: String, lookbackHours: Int = 24): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val horizon = lookbackHours * 3600L * 1000000L
    Tables.events(spark, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("us"))
      .withColumn("last_click_us",
        max(when(col("event_type") === "click", col("us"))).over(w))
      .withColumn("last_view_us",
        max(when(col("event_type") === "view", col("us"))).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("channel",
        when(col("last_click_us").isNotNull &&
          col("us") - col("last_click_us") <= horizon &&
          (col("last_view_us").isNull || col("last_click_us") >= col("last_view_us")),
          "click")
          .when(col("last_view_us").isNotNull &&
            col("us") - col("last_view_us") <= horizon, "view")
          .otherwise("none"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("rev_cents"))
      .orderBy(col("channel"))
  }

  val attributionOracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us
      |  FROM events),
      |m AS (
      |  SELECT *,
      |    max(CASE WHEN event_type = 'click' THEN us END) OVER
      |      (PARTITION BY user_id ORDER BY us, event_id
      |       ROWS UNBOUNDED PRECEDING) AS last_click_us,
      |    max(CASE WHEN event_type = 'view' THEN us END) OVER
      |      (PARTITION BY user_id ORDER BY us, event_id
      |       ROWS UNBOUNDED PRECEDING) AS last_view_us
      |  FROM ev),
      |p AS (
      |  SELECT value,
      |    CASE WHEN last_click_us IS NOT NULL
      |           AND us - last_click_us <= 86400000000
      |           AND (last_view_us IS NULL OR last_click_us >= last_view_us)
      |      THEN 'click'
      |      WHEN last_view_us IS NOT NULL AND us - last_view_us <= 86400000000
      |      THEN 'view' ELSE 'none' END AS channel
      |  FROM m WHERE event_type = 'purchase')
      |SELECT channel, count(*) AS n_purchases,
      |  cast(sum(cast(floor(value * 100 + 0.5) AS bigint)) AS bigint) AS rev_cents
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  /** Join-key skew audit (`ev_key_skew`): the "should I salt?" decision
    * table — per log2 bucket of per-user event count, how many keys land
    * there and what share of all events they carry (basis points). A
    * heavy tail concentrated in the top buckets is the signature that a
    * plain shuffle join will hot-spot and the salted path
    * (`ev_skew_join_salted`) should run instead. Key counts are one
    * partial agg; the histogram is a \|buckets\|-row agg; the total rides
    * a broadcast back — all integer. */
  def keySkew(spark: SparkSession, d: String): DataFrame = {
    val perKey = Tables.events(spark, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    val total = perKey.groupBy().agg(sum(col("cnt")).as("total"))
    perKey
      .withColumn("bucket", length(bin(col("cnt"))).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_events"),
        max(col("cnt")).as("max_key_events"))
      .crossJoin(broadcast(total))
      .withColumn("events_share_bp", expr("n_events * 10000 div total"))
      .select("bucket", "n_keys", "n_events", "max_key_events", "events_share_bp")
      .orderBy("bucket")
  }

  val keySkewOracle: String =
    """WITH k AS (
      |  SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
      |t AS (SELECT cast(sum(cnt) AS bigint) AS total FROM k),
      |b AS (
      |  SELECT cast(length(bin(cnt)) AS bigint) AS bucket, cnt FROM k)
      |SELECT bucket, count(*) AS n_keys,
      |  cast(sum(cnt) AS bigint) AS n_events,
      |  cast(max(cnt) AS bigint) AS max_key_events,
      |  cast(sum(cnt) * 10000 // min(total) AS bigint) AS events_share_bp
      |FROM b, t GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exponentially-weighted traffic smoothing (`ev_ewma_hourly`): per
    * type, the hourly event count beside a 4-tap exponentially-weighted
    * sliding sum (weights 8/4/2/1 over the current and three prior
    * observed hours, integer-scaled ×15 so no float division exists) —
    * the anomaly-detection baseline an alerting pipeline keeps per
    * stream. A finite-horizon integer EWMA rather than the recursive
    * form: recursion is order-sequential and engine-hostile; the 4-tap
    * window is one partitioned lag chain, exact in both engines, and
    * mergeable because hourly counts are. Windows partition per type over
    * the observed-hour sequence (`ev_burstiness` handles empty-hour
    * accounting). */
  def ewmaHourly(spark: SparkSession, d: String): DataFrame = {
    val byTypeHour = Tables.events(spark, d)
      .groupBy(col("event_type"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_ts"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_ts"))
    byTypeHour
      .withColumn("ewma_x15",
        col("cnt") * 8 + coalesce(lag(col("cnt"), 1).over(w), lit(0L)) * 4 +
          coalesce(lag(col("cnt"), 2).over(w), lit(0L)) * 2 +
          coalesce(lag(col("cnt"), 3).over(w), lit(0L)))
      .orderBy(col("event_type"), col("hour_ts"))
  }

  val ewmaHourlyOracle: String =
    """WITH h AS (
      |  SELECT event_type,
      |    cast(floor(epoch(date_trunc('hour', ts))) AS bigint) AS hour_ts,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, hour_ts, cnt,
      |  cnt * 8
      |    + coalesce(lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY hour_ts), 0) * 4
      |    + coalesce(lag(cnt, 2) OVER (PARTITION BY event_type ORDER BY hour_ts), 0) * 2
      |    + coalesce(lag(cnt, 3) OVER (PARTITION BY event_type ORDER BY hour_ts), 0)
      |    AS ewma_x15
      |FROM h ORDER BY 1, 2""".stripMargin

  /** Count-Min sketch (`ev_count_min`): fixed-size frequency estimation —
    * the 4th sketch in the family (KMV distinct, HLL distinct, Misra–Gries
    * heavy hitters, CM frequencies). depth×width counters (4×512 here)
    * estimate ANY key's event count with one-sided error: est ≥ exact,
    * overshooting by at most the collision mass in the key's least-loaded
    * row. All arithmetic is the shared md5-based [[graft.functions.Kernels.hash31]]
    * (row-salted), so the sketch is deterministic and the oracle rebuilds
    * it bit-for-bit. Scale shape: the depth-row explode is map-side, the
    * sketch agg shuffles ≤ depth×width counter rows (bounded by the SKETCH,
    * not the corpus — countDistinct-style exact counting shuffles every
    * key), merging two corpora's sketches = summing counters. The exact
    * top-N beside the estimate exposes the collision error like
    * [[distinctSketch]] does for KMV. */
  /** The CM counter table (j, bucket, cnt) — exposed so the streaming
    * twin's parity spec can diff state against it. */
  def countMinSketch(ev: DataFrame, depth: Int = 4, width: Int = 512): DataFrame =
    ev.select(col("user_id"), explode(sequence(lit(0), lit(depth - 1))).as("j"))
      .select(col("j"), cmBucket(col("user_id"), col("j"), width).as("bucket"))
      .groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  private def cmBucket(user: Column, j: Column, width: Int): Column = {
    import graft.functions.Kernels.hash31
    pmod(hash31(concat(j.cast("string"), lit(":"), user.cast("string"))),
      lit(width.toLong))
  }

  def countMin(spark: SparkSession, d: String, depth: Int = 4,
      width: Int = 512, topN: Int = 10): DataFrame = {
    val ev = Tables.events(spark, d).select(col("user_id"))
    val sketch = countMinSketch(ev, depth, width)
    val top = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("user_id"))
      .limit(topN)
    top
      .select(col("user_id"), col("exact_n"),
        explode(sequence(lit(0), lit(depth - 1))).as("j"))
      .withColumn("bucket", cmBucket(col("user_id"), col("j"), width))
      .join(sketch, Seq("j", "bucket"))
      .groupBy(col("user_id"), col("exact_n"))
      .agg(min(col("cnt")).as("cm_estimate"))
      .orderBy(col("user_id"))
  }

  val countMinOracle: String = {
    import graft.functions.Kernels.sqlHash31
    val h = sqlHash31("concat(cast(j AS varchar), ':', cast(user_id AS varchar))")
    s"""WITH dj AS (SELECT unnest(generate_series(0, 3)) AS j),
       |rows_ AS (
       |  SELECT j, $h % 512 AS bucket FROM events, dj),
       |sketch AS (
       |  SELECT j, bucket, count(*) AS cnt FROM rows_ GROUP BY 1, 2),
       |ex AS (
       |  SELECT user_id, count(*) AS exact_n FROM events GROUP BY 1),
       |top AS (
       |  SELECT * FROM ex ORDER BY exact_n DESC, user_id LIMIT 10),
       |probes AS (
       |  SELECT user_id, exact_n, j, $h % 512 AS bucket FROM top, dj)
       |SELECT user_id, exact_n, min(cnt) AS cm_estimate
       |FROM probes JOIN sketch USING (j, bucket)
       |GROUP BY 1, 2 ORDER BY 1""".stripMargin
  }

  /** CDC MERGE (`q_cdc_merge`): apply a change batch onto a dimension
    * snapshot with MERGE-INTO semantics — the lakehouse upsert every
    * incremental 100 TB pipeline runs. The event stream splits at its
    * midpoint timestamp (computed, not hardcoded, so every SF works):
    * the pre-cutoff half compacts to the dimension snapshot (latest state
    * per user), the post-cutoff half to the CDC batch (latest change per
    * user). Full outer join on user_id classifies every key: `insert`
    * (new user), `update` (state changed), `unchanged` (touched but
    * equal), `carry` (untouched) — and emits the post-merge row either
    * way. Both compactions are per-user WindowGroupLimit top-1s; the
    * merge join shuffles only the two compacted states. */
  def cdcMerge(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value"), 2).as("value"), col("ts"))
    val ext = ev.agg(
      min(unix_micros(col("ts"))).as("mn"), max(unix_micros(col("ts"))).as("mx"))
    val cut = ev.crossJoin(broadcast(ext))
      .withColumn("is_delta", unix_micros(col("ts")) >= expr("mn + (mx - mn) div 2"))
    def latest(df: DataFrame) = df
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
    val dim = latest(cut.filter(!col("is_delta")))
      .select(col("user_id"), col("event_type").as("old_status"),
        col("value").as("old_value"))
    val cdc = latest(cut.filter(col("is_delta")))
      .select(col("user_id"), col("event_type").as("new_status"),
        col("value").as("new_value"), unix_timestamp(col("ts")).as("changed_at"))
    dim.join(cdc, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        when(col("old_status").isNull, "insert")
          .when(col("new_status").isNull, "carry")
          .when(col("new_status") === col("old_status") &&
            col("new_value") === col("old_value"), "unchanged")
          .otherwise("update").as("action"),
        col("old_status"),
        coalesce(col("new_status"), col("old_status")).as("status"),
        coalesce(col("new_value"), col("old_value")).as("value"),
        col("changed_at"))
      .orderBy(col("user_id"))
  }

  val cdcMergeOracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, round(value, 2) AS value, ts,
      |    epoch_us(ts) AS us FROM events),
      |ext AS (SELECT min(us) AS mn, max(us) AS mx FROM ev),
      |tagged AS (
      |  SELECT ev.*, us >= mn + (mx - mn) // 2 AS is_delta FROM ev, ext),
      |dim AS (
      |  SELECT user_id, event_type AS old_status, value AS old_value FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM tagged WHERE NOT is_delta) WHERE rn = 1),
      |cdc AS (
      |  SELECT user_id, event_type AS new_status, value AS new_value,
      |    cast(floor(epoch(ts)) AS bigint) AS changed_at FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM tagged WHERE is_delta) WHERE rn = 1)
      |SELECT coalesce(dim.user_id, cdc.user_id) AS user_id,
      |  CASE WHEN old_status IS NULL THEN 'insert'
      |       WHEN new_status IS NULL THEN 'carry'
      |       WHEN new_status = old_status AND new_value = old_value
      |         THEN 'unchanged'
      |       ELSE 'update' END AS action,
      |  old_status,
      |  coalesce(new_status, old_status) AS status,
      |  coalesce(new_value, old_value) AS value,
      |  changed_at
      |FROM dim FULL OUTER JOIN cdc ON dim.user_id = cdc.user_id
      |ORDER BY 1""".stripMargin

  /** SCD-2 history build (`ev_scd2`): compact each user's event stream
    * into slowly-changing-dimension type-2 intervals — one row per run of
    * consecutive equal `event_type`, with [valid_from, valid_to) bounds
    * and a per-user version number; the current (open) run carries a null
    * valid_to. This is the CDC→dimension materialization a warehouse
    * maintains with MERGE: gaps-and-islands via lag + running sum, then
    * lead over the compacted runs for the closing bound. Every window and
    * the agg partition by user_id — high cardinality, no skew, no global
    * window — and the run compaction shrinks output before the lead pass,
    * the same shape at 100 TB. A `userMod` cohort filter (pushed to the
    * scan) keeps the dump size sane; 0 disables it. */
  def scd2(spark: SparkSession, d: String, userMod: Long = 10L): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val base = Tables.events(spark, d)
    val cohort = if (userMod <= 1L) base else base.filter(pmod(col("user_id"), lit(userMod)) === 0L)
    cohort
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .withColumn("chg",
        when(col("prev_type").isNull || col("prev_type") =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("version", sum(col("chg")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("version"))
      .agg(first(col("event_type")).as("status"),
        count(lit(1)).as("n_events"),
        unix_timestamp(min(col("ts"))).as("valid_from"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("version"))))
      .select("user_id", "version", "status", "n_events", "valid_from", "valid_to")
      .orderBy("user_id", "version")
  }

  val scd2Oracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, ts FROM events
      |  WHERE user_id % 10 = 0),
      |m AS (
      |  SELECT *, lag(event_type) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM ev),
      |r AS (
      |  SELECT *, sum(CASE WHEN prev_type IS NULL OR prev_type != event_type
      |      THEN 1 ELSE 0 END) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id
      |     ROWS UNBOUNDED PRECEDING) AS version
      |  FROM m),
      |g AS (
      |  SELECT user_id, cast(version AS bigint) AS version,
      |    min(event_type) AS status,
      |    cast(count(*) AS bigint) AS n_events,
      |    cast(floor(epoch(min(ts))) AS bigint) AS valid_from
      |  FROM r GROUP BY 1, 2)
      |SELECT user_id, version, status, n_events, valid_from,
      |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to
      |FROM g ORDER BY user_id, version""".stripMargin

  /** Hourly OHLC bars over purchases (`ev_ohlc_hourly`) — the
    * open/high/low/close compaction every metrics store runs on a raw
    * tick stream. Open/close are ARGMIN/ARGMAX by event time, computed as
    * a lexicographic min/max over the integer array (µs, event_id, cents):
    * ties (same µs) break on event_id IDENTICALLY in both engines with no
    * window anywhere — the whole bar is ONE partial aggregate per hour, so
    * the shuffle carries \|hours\| rows whatever the tick volume (the
    * hour-partitioned row_number alternative would hot-spot once an hour
    * holds millions of ticks). Values in exact cents. */
  def ohlcHourly(spark: SparkSession, d: String): DataFrame = {
    Tables.events(spark, d)
      .filter(col("event_type") === "purchase")
      .select(date_trunc("hour", col("ts")).as("hour"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .groupBy(col("hour"))
      .agg(count(lit(1)).as("n_trades"),
        element_at(min(array(col("us"), col("event_id"), col("cents"))), 3).as("open_cents"),
        max(col("cents")).as("high_cents"),
        min(col("cents")).as("low_cents"),
        element_at(max(array(col("us"), col("event_id"), col("cents"))), 3).as("close_cents"),
        sum(col("cents")).as("volume_cents"))
      .orderBy(col("hour"))
  }

  val ohlcHourlyOracle: String =
    """WITH t AS (
      |  SELECT date_trunc('hour', ts) AS hour, epoch_us(ts) AS us, event_id,
      |    cast(floor(value * 100 + 0.5) AS bigint) AS cents
      |  FROM events WHERE event_type = 'purchase')
      |SELECT hour, count(*) AS n_trades,
      |  min([us, event_id, cents])[3] AS open_cents,
      |  max(cents) AS high_cents,
      |  min(cents) AS low_cents,
      |  max([us, event_id, cents])[3] AS close_cents,
      |  cast(sum(cents) AS bigint) AS volume_cents
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  /** RFM customer segmentation (`ev_rfm`): per purchasing user, recency
    * (days since last purchase vs the corpus watermark), frequency
    * (purchase count) and monetary value (exact cents), each scored 1-3
    * against FIXED integer thresholds (quantile-based scoring is
    * `q_spend_deciles`' distributed-rank job; fixed cutoffs are the form a
    * marketing rulebook actually ships). The watermark rides a one-row
    * broadcast back onto the per-user aggregate — never a collect; output
    * is the \|segments\|-row report (≤27 rows at any corpus size). */
  def rfm(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
    val ref = ev.agg(max(unix_micros(col("ts"))).as("ref_us"))
    val perUser = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("n_purchases"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("cents"))
    perUser.crossJoin(broadcast(ref))
      .withColumn("recency_days", expr("(ref_us - last_us) div 86400000000"))
      .withColumn("r", when(col("recency_days") <= 3, 3).when(col("recency_days") <= 10, 2).otherwise(1))
      .withColumn("f", when(col("n_purchases") >= 20, 3).when(col("n_purchases") >= 8, 2).otherwise(1))
      .withColumn("m", when(col("cents") >= 150000L, 3).when(col("cents") >= 50000L, 2).otherwise(1))
      .groupBy(concat(col("r"), col("f"), col("m")).as("segment"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("cents")).as("segment_cents"),
        round(avg(col("recency_days")), 4).as("avg_recency_days"))
      .orderBy(col("segment"))
  }

  val rfmOracle: String =
    """WITH ref AS (SELECT max(epoch_us(ts)) AS ref_us FROM events),
      |pu AS (
      |  SELECT user_id, max(epoch_us(ts)) AS last_us, count(*) AS n_purchases,
      |    sum(cast(floor(value * 100 + 0.5) AS bigint)) AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |sc AS (
      |  SELECT (ref_us - last_us) // 86400000000 AS recency_days, n_purchases, cents,
      |    CASE WHEN (ref_us - last_us) // 86400000000 <= 3 THEN 3
      |         WHEN (ref_us - last_us) // 86400000000 <= 10 THEN 2 ELSE 1 END AS r,
      |    CASE WHEN n_purchases >= 20 THEN 3
      |         WHEN n_purchases >= 8 THEN 2 ELSE 1 END AS f,
      |    CASE WHEN cents >= 150000 THEN 3
      |         WHEN cents >= 50000 THEN 2 ELSE 1 END AS m
      |  FROM pu, ref)
      |SELECT cast(r AS varchar) || cast(f AS varchar) || cast(m AS varchar) AS segment,
      |  count(*) AS n_users, cast(sum(cents) AS bigint) AS segment_cents,
      |  round(avg(recency_days), 4) AS avg_recency_days
      |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin

  /** Windowed HLL (`ev_hourly_hll`): distinct users per hour estimated by
    * the SAME 64-register HyperLogLog arithmetic as `ev_hll_distinct`,
    * keyed by time window instead of event type — the sketch-per-window
    * composition a traffic dashboard maintains. The register aggregate
    * shuffles ≤ \|hours\|×64 rows however many events an hour holds (the
    * exact column beside it is the \|hours\|-key countDistinct for error
    * accounting at test scale). All-integer registers and harmonic sum;
    * one fixed-order float finish (round-4). */
  def hourlyHll(spark: SparkSession, d: String, m: Int = 64): DataFrame = {
    import graft.functions.Kernels.hash60
    require(m == 64, "register math below is specialized to m=64")
    val ev = Tables.events(spark, d)
      .select(date_trunc("hour", col("ts")).as("hour"), col("user_id"))
    val regs = ev
      .select(col("hour"), hash60(col("user_id").cast("string")).as("h"))
      .select(col("hour"), pmod(col("h"), lit(m.toLong)).as("bucket"),
        expr(s"h div $m").as("w"))
      .select(col("hour"), col("bucket"),
        when(col("w") === 0, lit(55)).otherwise(lit(55) - length(bin(col("w")))).as("rho"))
      .groupBy(col("hour"), col("bucket"))
      .agg(max(col("rho")).as("M"))
    val sketch = regs.groupBy(col("hour"))
      .agg(count(lit(1)).as("n_regs_used"),
        sum(expr("shiftleft(cast(1 as bigint), cast(55 - M as int))")).as("s_ne"))
      .withColumn("S", col("s_ne") + (lit(m.toLong) - col("n_regs_used")) * lit(1L << 55))
    val exact = ev.groupBy(col("hour"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    sketch.join(exact, "hour")
      .select(col("hour"), col("exact_distinct"),
        round(lit(0.709) * lit(4096.0) * lit((1L << 55).toDouble) / col("S"), 4)
          .as("hll_estimate"),
        col("n_regs_used"))
      .orderBy(col("hour"))
  }

  /** Payload schema-drift audit (`sse_schema_infer`) — the governance
    * check a connector operator runs on an UNTYPED JSON stream before
    * committing to a `sse_project` StructType (Kafka-Connect land calls
    * this schema inference/registry drift): for every TOP-LEVEL key of the
    * wire document, how many events carry it and what scalar shape its
    * value takes (null / boolean / number / object / string, classified by
    * the SAME regex in both engines). Runs the REAL generic-JSON path —
    * one `from_json` untyped-map parse per document ([[keyShapeRows]]) —
    * over [[payloadFrame]]; the oracle reproduces the expected inventory
    * arithmetically from the frame spec, so a hash match proves Spark's
    * JSON engine lands exactly on the documented shape. One explode
    * (×\|keys\|) + a (key, type) partial agg; presence in basis points vs
    * the event total riding a broadcast back. */
  /** Shared stateless half of schema inference (batch audit + streaming
    * drift monitor): ONE `from_json` map parse per document — nested
    * objects surface as their JSON text, scalars as unquoted strings,
    * exactly the per-key extraction semantics — then the regex shape
    * classifier. A per-key `get_json_object` probe would re-parse the
    * document \|keys\| times (measured 6.0 s vs ~1 s on the sf0.1 sweep). */
  private[graft] def keyShapeRows(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{MapType, StringType}
    docs
      .select(explode(from_json(col("doc"), MapType(StringType, StringType)))
        .as(Seq("key", "v")))
      .withColumn("vtype",
        when(col("v").isNull, "null")
          .when(col("v").rlike("^(true|false)$"), "boolean")
          .when(col("v").rlike("^-?[0-9]+$"), "number")
          .when(col("v").startsWith("{"), "object")
          .otherwise("string"))
      .select(col("key"), col("vtype"))
  }

  def schemaInfer(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.events(spark, d).select(payloadFrame.as("doc"))
    val total = docs.groupBy().agg(count(lit(1)).as("n_docs"))
    keyShapeRows(docs)
      .groupBy(col("key"), col("vtype"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .select(col("key"), col("vtype"), col("n"),
        expr("n * 10000 div n_docs").as("presence_bp"))
      .orderBy(col("key"), col("vtype"))
  }

  val schemaInferOracle: String =
    """WITH n AS (SELECT count(*) AS c FROM events),
      |shape(key, vtype) AS (VALUES
      |  ('$schema', 'string'), ('bot', 'boolean'), ('id', 'number'),
      |  ('length', 'object'), ('meta', 'object'), ('namespace', 'number'),
      |  ('title', 'string'), ('type', 'string'))
      |SELECT key, vtype, c AS n, cast(10000 AS bigint) AS presence_bp
      |FROM shape, n ORDER BY key, vtype""".stripMargin

  /** Constraint suite (`ev_dq_rules`) — Deequ-style data-quality rules
    * evaluated in ONE scan of the stream table: each rule is a conditional
    * counter (non-negative value, known event vocabulary, valid user key,
    * event time inside the contract window, brace-delimited JSON payload),
    * the report unpivots the single aggregate row — a fixed-width pass
    * whatever the corpus size, violations in exact basis points. The
    * streaming twin of this shape is the metrics listener; the schema
    * drift cousin is `sse_schema_infer`. */
  def dqRules(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
    val agg = ev.groupBy().agg(
      count(lit(1)).as("n"),
      sum(when(col("value") < 0 || col("value").isNull, 1L).otherwise(0L)).as("v_value"),
      sum(when(!col("event_type").isin(EventTypes: _*), 1L).otherwise(0L)).as("v_vocab"),
      sum(when(col("user_id").isNull || col("user_id") < 0, 1L).otherwise(0L)).as("v_user"),
      sum(when(col("ts") < lit("2024-01-01") || col("ts") >= lit("2026-01-01"), 1L)
        .otherwise(0L)).as("v_window"),
      sum(when(!(col("props").startsWith("{") && col("props").endsWith("}")), 1L)
        .otherwise(0L)).as("v_json"))
    agg.select(col("n"), explode(array(
        struct(lit("value_non_negative").as("rule"), col("v_value").as("n_violations")),
        struct(lit("event_type_in_vocabulary").as("rule"), col("v_vocab").as("n_violations")),
        struct(lit("user_id_valid").as("rule"), col("v_user").as("n_violations")),
        struct(lit("ts_in_contract_window").as("rule"), col("v_window").as("n_violations")),
        struct(lit("props_brace_delimited").as("rule"), col("v_json").as("n_violations"))
      )).as("r"))
      .select(col("r.rule").as("rule"), col("n").as("n_checked"),
        col("r.n_violations").as("n_violations"),
        expr("(n - r.n_violations) * 10000 div n").as("pass_bp"))
      .orderBy(col("rule"))
  }

  val dqRulesOracle: String =
    """WITH a AS (
      |  SELECT count(*) AS n,
      |    cast(sum(CASE WHEN value < 0 OR value IS NULL THEN 1 ELSE 0 END) AS bigint) AS v_value,
      |    cast(sum(CASE WHEN event_type NOT IN
      |      ('click','error','purchase','signup','view') THEN 1 ELSE 0 END) AS bigint) AS v_vocab,
      |    cast(sum(CASE WHEN user_id IS NULL OR user_id < 0 THEN 1 ELSE 0 END) AS bigint) AS v_user,
      |    cast(sum(CASE WHEN ts < '2024-01-01' OR ts >= '2026-01-01'
      |      THEN 1 ELSE 0 END) AS bigint) AS v_window,
      |    cast(sum(CASE WHEN NOT (props LIKE '{%' AND props LIKE '%}')
      |      THEN 1 ELSE 0 END) AS bigint) AS v_json
      |  FROM events),
      |r AS (
      |  SELECT 'value_non_negative' AS rule, n, v_value AS n_violations FROM a
      |  UNION ALL SELECT 'event_type_in_vocabulary', n, v_vocab FROM a
      |  UNION ALL SELECT 'user_id_valid', n, v_user FROM a
      |  UNION ALL SELECT 'ts_in_contract_window', n, v_window FROM a
      |  UNION ALL SELECT 'props_brace_delimited', n, v_json FROM a)
      |SELECT rule, n AS n_checked, n_violations,
      |  cast((n - n_violations) * 10000 // n AS bigint) AS pass_bp
      |FROM r ORDER BY 1""".stripMargin

  /** Error-burst detection (`ev_error_burst`) — hourly error counts
    * flagged at mean+3σ, with the WHOLE test kept in exact integer
    * arithmetic: x > μ+3σ ⇔ n·x−Σx > 0 ∧ (n·x−Σx)² > 9·(n·Σx²−(Σx)²)
    * (multiply both sides by n² — σ² = (nΣx²−(Σx)²)/n²), so the alert
    * decision is bit-identical cross-engine with no float epsilon on the
    * boundary (`ev_anomalies` is the per-event float-z cousin). Stats are
    * one 3-number aggregate broadcast back onto the \|hours\|-row series;
    * bursts are scored over ACTIVE hours (an hour with zero errors is
    * absence of signal, not a sample). */
  def errorBurst(spark: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(spark, d)
      .filter(col("event_type") === "error")
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_ts"))
      .agg(count(lit(1)).as("cnt"))
    val stats = hourly.groupBy()
      .agg(count(lit(1)).as("n"), sum(col("cnt")).as("s1"),
        sum(col("cnt") * col("cnt")).as("s2"))
    hourly.crossJoin(broadcast(stats))
      .withColumn("dev_n", col("n") * col("cnt") - col("s1"))
      .withColumn("burst",
        col("dev_n") > 0 &&
          col("dev_n") * col("dev_n") > lit(9L) * (col("n") * col("s2") - col("s1") * col("s1")))
      .select(col("hour_ts"), col("cnt"), col("dev_n"), col("burst"))
      .orderBy(col("hour_ts"))
  }

  val errorBurstOracle: String =
    """WITH h AS (
      |  SELECT cast(floor(epoch(date_trunc('hour', ts))) AS bigint) AS hour_ts,
      |    count(*) AS cnt
      |  FROM events WHERE event_type = 'error' GROUP BY 1),
      |s AS (SELECT count(*) AS n, sum(cnt) AS s1, sum(cnt*cnt) AS s2 FROM h)
      |SELECT hour_ts, cnt,
      |  cast(n * cnt - s1 AS bigint) AS dev_n,
      |  (n * cnt - s1 > 0 AND
      |   (n * cnt - s1) * (n * cnt - s1) > 9 * (n * s2 - s1 * s1)) AS burst
      |FROM h, s ORDER BY 1""".stripMargin

  /** Traffic autocorrelation (`ev_autocorr`): Pearson r of each type's
    * hourly count series against itself at lag 1 h and 24 h — the
    * seasonality probe that decides whether the EWMA baseline needs a
    * diurnal term. Pairs come from an equi-join on (type, hour+lag) —
    * never a window over the raw stream — and every moment (Σx Σy Σxy Σx²
    * Σy²) is an exact bigint, so r is one fixed-order float finish
    * (round-4). Series length is bounded by the time range, not the
    * corpus. */
  def autocorr(spark: SparkSession, d: String, lags: Seq[Long] = Seq(3600L, 86400L)): DataFrame = {
    val hourly = Tables.events(spark, d)
      .groupBy(col("event_type"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_ts"))
      .agg(count(lit(1)).as("cnt"))
    val lagged = hourly
      .withColumn("lag_sec", explode(array(lags.map(l => lit(l)): _*)))
      .select(col("event_type"), col("lag_sec"),
        (col("hour_ts") + col("lag_sec")).as("hour_ts"), col("cnt").as("x"))
    lagged.join(hourly.select(col("event_type"), col("hour_ts"), col("cnt").as("y")),
        Seq("event_type", "hour_ts"))
      .groupBy(col("event_type"), col("lag_sec"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("r",
        round((col("n_pairs") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt(((col("n_pairs") * col("sxx") - col("sx") * col("sx")) *
            (col("n_pairs") * col("syy") - col("sy") * col("sy"))).cast("double")), 4))
      .select(col("event_type"), col("lag_sec"), col("n_pairs"), col("r"))
      .orderBy(col("event_type"), col("lag_sec"))
  }

  val autocorrOracle: String =
    """WITH h AS (
      |  SELECT event_type,
      |    cast(floor(epoch(date_trunc('hour', ts))) AS bigint) AS hour_ts,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |lags AS (SELECT unnest([3600, 86400]) AS lag_sec),
      |ax AS (
      |  SELECT a.event_type, lag_sec, a.hour_ts + lag_sec AS target, a.cnt AS x
      |  FROM h a CROSS JOIN lags),
      |p AS (
      |  SELECT ax.event_type, lag_sec, x, b.cnt AS y
      |  FROM ax JOIN h b ON b.event_type = ax.event_type
      |                  AND b.hour_ts = ax.target),
      |m AS (
      |  SELECT event_type, lag_sec, count(*) AS n_pairs,
      |    sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
      |    sum(x*x) AS sxx, sum(y*y) AS syy
      |  FROM p GROUP BY 1, 2)
      |SELECT event_type, cast(lag_sec AS bigint) AS lag_sec, n_pairs,
      |  round(cast(n_pairs * sxy - sx * sy AS double) /
      |    sqrt(cast((n_pairs * sxx - sx * sx) * (n_pairs * syy - sy * sy)
      |      AS double)), 4) AS r
      |FROM m ORDER BY 1, 2""".stripMargin

  val hourlyHllOracle: String = {
    import graft.functions.Kernels.sqlHash60
    s"""WITH h AS (
       |  SELECT date_trunc('hour', ts) AS hour,
       |    ${sqlHash60("cast(user_id AS varchar)")} AS h
       |  FROM events),
       |rb AS (
       |  SELECT hour, h % 64 AS bucket,
       |    CASE WHEN h // 64 = 0 THEN 55
       |         ELSE 55 - length(bin(h // 64)) END AS rho
       |  FROM h),
       |regs AS (
       |  SELECT hour, bucket, max(rho) AS M FROM rb GROUP BY 1, 2),
       |sk AS (
       |  SELECT hour, count(*) AS n_regs_used,
       |    sum(1::bigint << (55 - M)) AS s_ne
       |  FROM regs GROUP BY 1),
       |st AS (
       |  SELECT hour, n_regs_used,
       |    cast(s_ne + (64 - n_regs_used) * (1::bigint << 55) AS bigint) AS S
       |  FROM sk),
       |ex AS (
       |  SELECT hour, count(DISTINCT user_id) AS exact_distinct
       |  FROM (SELECT date_trunc('hour', ts) AS hour, user_id FROM events)
       |  GROUP BY 1)
       |SELECT st.hour, exact_distinct,
       |  round(0.709::DOUBLE * 4096::DOUBLE * (1::bigint << 55)::DOUBLE / S, 4)
       |    AS hll_estimate,
       |  cast(n_regs_used AS bigint) AS n_regs_used
       |FROM st JOIN ex ON st.hour = ex.hour
       |ORDER BY 1""".stripMargin
  }

  /** Traffic-profile drift (`ev_profile_drift`) — the seasonality matrix
    * compared across the two halves of the timeline (epoch-µs midpoint
    * split): per (dow, hour) cell each half's event count and
    * traffic share, plus the share delta in basis points — the
    * traffic-MIX shift detector an on-call engineer reads when volume
    * alone looks normal but its shape moved ([[seasonality]] is the
    * profile, this is its derivative). Cells with activity in either
    * half appear (full outer on the 168-cell grid, zero-filled); all
    * integer; two partial aggs + two one-row broadcasts. */
  def profileDrift(spark: SparkSession, d: String): DataFrame = {
    val base = Tables.events(spark, d)
      .select(unix_micros(col("ts")).as("us"))
    val mid = base.agg(expr("(min(us) + max(us)) div 2").as("mid_us"))
    val cells = base.join(broadcast(mid))
      .select(expr("(us div 86400000000 + 4) % 7").as("dow"),
        expr("(us div 3600000000) % 24").as("hour"),
        when(col("us") <= col("mid_us"), 1L).otherwise(0L).as("h1"))
      .groupBy(col("dow"), col("hour"))
      .agg(sum(col("h1")).as("n1"), sum(lit(1L) - col("h1")).as("n2"))
    val tot = cells.agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"))
    cells.join(broadcast(tot))
      .select(col("dow"), col("hour"), col("n1"), col("n2"),
        expr("n1 * 10000 div t1").as("share1_bp"),
        expr("n2 * 10000 div t2").as("share2_bp"),
        expr("n2 * 10000 div t2 - n1 * 10000 div t1").as("delta_bp"))
      .orderBy(col("dow"), col("hour"))
  }

  val profileDriftOracle: String =
    """WITH base AS (SELECT epoch_us(ts) AS us FROM events),
      |mid AS (SELECT (min(us) + max(us)) // 2 AS mid_us FROM base),
      |cells AS (
      |  SELECT (us // 86400000000 + 4) % 7 AS dow,
      |    (us // 3600000000) % 24 AS hour,
      |    sum(CASE WHEN us <= mid_us THEN 1 ELSE 0 END) AS n1,
      |    sum(CASE WHEN us <= mid_us THEN 0 ELSE 1 END) AS n2
      |  FROM base, mid GROUP BY 1, 2),
      |tot AS (SELECT sum(n1) AS t1, sum(n2) AS t2 FROM cells)
      |SELECT cast(dow AS bigint) AS dow, cast(hour AS bigint) AS hour,
      |  cast(n1 AS bigint) AS n1, cast(n2 AS bigint) AS n2,
      |  cast(n1 * 10000 // t1 AS bigint) AS share1_bp,
      |  cast(n2 * 10000 // t2 AS bigint) AS share2_bp,
      |  cast(n2 * 10000 // t2 - n1 * 10000 // t1 AS bigint) AS delta_bp
      |FROM cells, tot ORDER BY 1, 2""".stripMargin

  /** User-lifetime histogram (`ev_user_lifetime`) — the tenure
    * distribution a growth dashboard reads: per user the span in days
    * between first and last event, bucketed into log2 octaves of
    * (span_days + 1), each bucket with its user count, share (bp), mean
    * active days (distinct days with activity — tenure ≠ activity) and
    * mean events, all floor-div integers. One per-user aggregate (three
    * min/max/count columns + a distinct-day count) then an \|octaves\|-row
    * partial agg; the `ev_gap_histogram` bucketing rule at user
    * granularity. */
  def userLifetime(spark: SparkSession, d: String): DataFrame = {
    val perUser = Tables.events(spark, d)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("user_id"))
      .agg((max(col("day")) - min(col("day"))).as("span_days"),
        countDistinct(col("day")).as("active_days"),
        count(lit(1)).as("n_events"))
    val buckets = perUser
      .groupBy(length(bin(col("span_days") + 1)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_users"),
        expr("sum(active_days) div count(1)").as("mean_active_days"),
        expr("sum(n_events) div count(1)").as("mean_events"))
    val tot = buckets.agg(sum(col("n_users")).as("total"))
    buckets.join(broadcast(tot))
      .select(col("bucket"), col("n_users"),
        expr("n_users * 10000 div total").as("share_bp"),
        col("mean_active_days"), col("mean_events"))
      .orderBy(col("bucket"))
  }

  val userLifetimeOracle: String =
    """WITH pu AS (
      |  SELECT user_id,
      |    max(epoch_us(ts) // 86400000000) - min(epoch_us(ts) // 86400000000)
      |      AS span_days,
      |    count(DISTINCT epoch_us(ts) // 86400000000) AS active_days,
      |    count(*) AS n_events
      |  FROM events GROUP BY 1),
      |b AS (
      |  SELECT cast(length(bin(span_days + 1)) AS bigint) AS bucket,
      |    count(*) AS n_users,
      |    cast(sum(active_days) // count(*) AS bigint) AS mean_active_days,
      |    cast(sum(n_events) // count(*) AS bigint) AS mean_events
      |  FROM pu GROUP BY 1),
      |tot AS (SELECT sum(n_users) AS total FROM b)
      |SELECT bucket, n_users,
      |  cast(n_users * 10000 // total AS bigint) AS share_bp,
      |  mean_active_days, mean_events
      |FROM b, tot ORDER BY bucket""".stripMargin

  /** Watermark data-loss curve (`ev_watermark_curve`) — the sweep behind
    * choosing a watermark delay: for candidate delays 1 m / 10 m / 1 h /
    * 6 h, how many events (and what fraction, in basis points) would be
    * DROPPED because they trail their transport shard's running
    * event-time max by more than the delay. `ev_lateness` audits the
    * disorder; `ev_watermark_recommend` picks one number; this publishes
    * the whole loss-vs-delay trade-off table an operator actually reads
    * (loss budget ↔ state size). Same planted deterministic slip and
    * per-shard running max as the lateness audit (ONE window pass — the
    * four delays are conditional sums over the same lateness column);
    * \|types\|×4 rows out. */
  def watermarkCurve(spark: SparkSession, d: String, nShards: Int = 64): DataFrame = {
    val delays = Seq(60L, 600L, 3600L, 21600L) // seconds
    val ev = Tables.events(spark, d)
      .select(col("event_id"), col("event_type"),
        pmod(col("event_id"), lit(nShards.toLong)).as("shard"),
        unix_micros(col("ts")).as("us"))
      .withColumn("us2",
        when(pmod(col("event_id"), lit(7L)) === 3L,
          col("us") - (pmod(col("event_id"), lit(13L)) + 1L) * 1800000000L)
          .otherwise(col("us")))
    val byShard = Window.partitionBy(col("shard")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val late = ev.withColumn("runmax", max(col("us2")).over(byShard))
      .select(col("event_type"),
        greatest(coalesce(col("runmax") - col("us2"), lit(0L)), lit(0L))
          .as("late_us"))
    val cols = delays.map(s =>
      sum(when(col("late_us") > s * 1000000L, 1L).otherwise(0L))
        .as(s"d$s"))
    late.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), cols: _*)
      .select(col("event_type") +: col("n_events") +: delays.flatMap(s => Seq(
        col(s"d$s").as(s"dropped_${s}s"),
        expr(s"d$s * 10000 div n_events").as(s"loss_bp_${s}s"))): _*)
      .orderBy(col("event_type"))
  }

  val watermarkCurveOracle: String =
    """WITH ev AS (
      |  SELECT event_id, event_type, event_id % 64 AS shard, epoch_us(ts) AS us
      |  FROM events),
      |adj AS (
      |  SELECT event_id, event_type, shard,
      |    CASE WHEN event_id % 7 = 3
      |         THEN us - ((event_id % 13) + 1) * 1800000000
      |         ELSE us END AS us2
      |  FROM ev),
      |w AS (
      |  SELECT event_type,
      |    greatest(coalesce(max(us2) OVER (PARTITION BY shard ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - us2, 0), 0)
      |      AS late_us
      |  FROM adj)
      |SELECT event_type, count(*) AS n_events,
      |  cast(sum(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END) AS bigint)
      |    AS dropped_60s,
      |  cast(sum(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END) * 10000
      |    // count(*) AS bigint) AS loss_bp_60s,
      |  cast(sum(CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END) AS bigint)
      |    AS dropped_600s,
      |  cast(sum(CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END) * 10000
      |    // count(*) AS bigint) AS loss_bp_600s,
      |  cast(sum(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END) AS bigint)
      |    AS dropped_3600s,
      |  cast(sum(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END) * 10000
      |    // count(*) AS bigint) AS loss_bp_3600s,
      |  cast(sum(CASE WHEN late_us > 21600000000 THEN 1 ELSE 0 END) AS bigint)
      |    AS dropped_21600s,
      |  cast(sum(CASE WHEN late_us > 21600000000 THEN 1 ELSE 0 END) * 10000
      |    // count(*) AS bigint) AS loss_bp_21600s
      |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  /** Hourly completeness audit (`ev_missing_hours`) — per event type, the
    * gap accounting an ingestion monitor publishes: expected hours (the
    * type's own [min, max] hour span), hours actually present, hours
    * MISSING (outage / pipeline-stall evidence), and coverage in basis
    * points. Pure arithmetic on the hourly aggregate — the span is two
    * integers, so nothing enumerates hours and the report is \|types\|
    * rows at any volume. */
  def missingHours(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000").as("hour"))
      .distinct()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("present_hours"),
        (max(col("hour")) - min(col("hour")) + 1).as("expected_hours"))
      .select(col("event_type"), col("expected_hours"), col("present_hours"),
        (col("expected_hours") - col("present_hours")).as("missing_hours"),
        expr("present_hours * 10000 div expected_hours").as("coverage_bp"))
      .orderBy(col("event_type"))

  val missingHoursOracle: String =
    """WITH h AS (
      |  SELECT DISTINCT event_type, epoch_us(ts) // 3600000000 AS hour
      |  FROM events)
      |SELECT event_type,
      |  cast(max(hour) - min(hour) + 1 AS bigint) AS expected_hours,
      |  count(*) AS present_hours,
      |  cast(max(hour) - min(hour) + 1 - count(*) AS bigint) AS missing_hours,
      |  cast(count(*) * 10000 // (max(hour) - min(hour) + 1) AS bigint)
      |    AS coverage_bp
      |FROM h GROUP BY 1 ORDER BY 1""".stripMargin

  /** Bitmap-index exact distinct (`ev_bitmap_distinct`) — the
    * Druid/ClickHouse bitmap technique as an operator: per (day, type),
    * daily active users counted EXACTLY by OR-ing 62-bit bitmap words
    * keyed by user_id div 62 (bit = user_id mod 62, shift kept below the
    * sign bit), then summing popcounts. The shuffle carries \|days\|·
    * \|types\|·⌈users/62⌉ WORD rows — 62× fewer than the (day, type,
    * user) rows a countDistinct must move, and `bit_or`/`bit_count` stay
    * in whole-stage codegen. The exact countDistinct sits beside the
    * bitmap count in the same row (the sketch-family convention), so the
    * hash match PROVES the bitmap path lossless. */
  def bitmapDistinct(spark: SparkSession, d: String): DataFrame = {
    val base = Tables.events(spark, d)
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_type"), col("user_id"))
    val words = base
      .groupBy(col("day"), col("event_type"),
        expr("user_id div 62").as("w"))
      .agg(expr("bit_or(shiftleft(1L, cast(user_id % 62 AS int)))").as("bits"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_words"),
        sum(bit_count(col("bits")).cast("long")).as("distinct_bitmap"))
    val exact = base.groupBy(col("day"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("distinct_exact"))
    words.join(exact, Seq("day", "event_type"))
      .orderBy(col("day"), col("event_type"))
  }

  val bitmapDistinctOracle: String =
    """WITH base AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, event_type, user_id
      |  FROM events),
      |words AS (
      |  SELECT day, event_type, user_id // 62 AS w,
      |    bit_or(1::bigint << cast(user_id % 62 AS int)) AS bits
      |  FROM base GROUP BY 1, 2, 3),
      |bm AS (
      |  SELECT day, event_type, count(*) AS n_words,
      |    cast(sum(bit_count(bits)) AS bigint) AS distinct_bitmap
      |  FROM words GROUP BY 1, 2),
      |ex AS (
      |  SELECT day, event_type, count(DISTINCT user_id) AS distinct_exact
      |  FROM base GROUP BY 1, 2)
      |SELECT bm.day, bm.event_type, n_words, distinct_bitmap, distinct_exact
      |FROM bm JOIN ex ON bm.day = ex.day AND bm.event_type = ex.event_type
      |ORDER BY 1, 2""".stripMargin

  /** DAU/MAU stickiness (`ev_stickiness`) — the engagement ratio a
    * product dashboard headlines: per 30-day window (arithmetic day
    * buckets — no engine calendar), monthly active users, summed daily
    * actives, and stickiness = meanDAU/MAU in basis points computed as
    * ONE exact integer division (Σdau·10⁴ div (days·MAU)) so no
    * intermediate mean rounds twice. Two distinct-aggregates whose group
    * keys are time-bounded; at 100 TB the distincts swap for the bitmap
    * ([[bitmapDistinct]]) or HLL paths, same report schema. */
  def stickiness(spark: SparkSession, d: String): DataFrame = {
    val days = Tables.events(spark, d)
      .select(expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
      .withColumn("month", expr("day div 30"))
    val dau = days.select(col("month"), col("day"), col("user_id")).distinct()
      .groupBy(col("month"))
      .agg(countDistinct(col("day")).as("n_days"), count(lit(1)).as("dau_sum"))
    val mau = days.groupBy(col("month"))
      .agg(countDistinct(col("user_id")).as("mau"))
    dau.join(mau, "month")
      .select(col("month"), col("n_days"), col("mau"), col("dau_sum"),
        expr("dau_sum * 10000 div (n_days * mau)").as("stickiness_bp"))
      .orderBy(col("month"))
  }

  val stickinessOracle: String =
    """WITH days AS (
      |  SELECT epoch_us(ts) // 86400000000 // 30 AS month,
      |    epoch_us(ts) // 86400000000 AS day, user_id
      |  FROM events),
      |dau AS (
      |  SELECT month, count(DISTINCT day) AS n_days,
      |    count(*) AS dau_sum
      |  FROM (SELECT DISTINCT month, day, user_id FROM days) GROUP BY 1),
      |mau AS (SELECT month, count(DISTINCT user_id) AS mau FROM days GROUP BY 1)
      |SELECT dau.month, n_days, mau, dau_sum,
      |  cast(dau_sum * 10000 // (n_days * mau) AS bigint) AS stickiness_bp
      |FROM dau JOIN mau ON dau.month = mau.month ORDER BY 1""".stripMargin

  /** Top session paths (`ev_top_paths`) — the 20 most common session
    * OPENINGS (first ≤5 event types, in order) across gap-sessionized
    * user activity: the "how do sessions start" report a product team
    * reads next to the funnel (which fixes ONE path; this surfaces which
    * paths exist). Sessions are the same gaps-and-islands pass as
    * [[sessionize]] (lag → flag → running sum, all user-partitioned);
    * each session's opening is a sort_array over its (µs, event_id, type)
    * struct rows — deterministic total order, the OHLC tie rule — sliced
    * to 5 and joined with '>' so the group key is a bounded string
    * whatever the session length; global top-20 plans as
    * TakeOrderedAndProject.
    *
    * The collect_list buffer is HARD-BOUNDED at pathLen rows per session,
    * not "bounded by user activity": rows past the session's first
    * pathLen are cut BEFORE the aggregation by comparing each row's
    * running row_number against its session's opening row_number — both
    * computed in the SAME user-partitioned window pass (a per-(user,
    * session) rank would re-shuffle on the composite key; the running-max
    * form adds zero exchanges), so a pathological bot session can no
    * longer materialize an unbounded array in one aggregation buffer. */
  def topPaths(spark: SparkSession, d: String, gapSec: Long = 1800L,
      pathLen: Int = 5, k: Int = 20): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(spark, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > gapSec, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(run))
      .withColumn("rn", row_number().over(byUser))
      .withColumn("sess_start",
        max(when(col("new_session") === 1L, col("rn"))).over(run))
      .filter(col("rn") - col("sess_start") < pathLen)
      .groupBy(col("user_id"), col("session_id"))
      .agg(sort_array(collect_list(struct(unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type")))).as("evs"))
      .select(col("user_id"),
        array_join(slice(transform(col("evs"), e => e.getField("event_type")),
          1, pathLen), ">").as("path"))
    sess.groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
  }

  val topPathsOracle: String =
    """WITH seq AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN lag(ts) OVER w IS NULL OR
      |      cast(floor(epoch(ts)) AS bigint)
      |        - cast(floor(epoch(lag(ts) OVER w)) AS bigint) > 1800
      |      THEN 1 ELSE 0 END AS new_session
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM seq),
      |paths AS (
      |  SELECT user_id,
      |    array_to_string(list(event_type ORDER BY ts, event_id)[1:5], '>')
      |      AS path
      |  FROM sess GROUP BY user_id, session_id)
      |SELECT path, count(*) AS n_sessions,
      |  count(DISTINCT user_id) AS n_users
      |FROM paths GROUP BY 1
      |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin

  /** Next-event entropy (`ev_transition_entropy`) — per from-type, the
    * Shannon entropy of the next-event distribution beside its maximum
    * (ln of the branch count): how PREDICTABLE each state is — low
    * entropy = a dominant next step (funnel-like), near-max = the stream
    * wanders. Uses H = ln(total) − (Σ n·ln n)/total with each edge's
    * `ln n` SNAPPED TO MICRO-INTEGERS first (floor-form rounding), so the
    * Σ is an exact order-independent bigint — a raw float sum would drift
    * with partial-agg order — and the only remaining floats are one `ln`
    * per edge of an exact integer (the DSIR round-4 family rule) plus the
    * final division. Round-6 output over the \|types\|²-row aggregate. */
  def transitionEntropy(spark: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cnt = Tables.events(spark, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    cnt.groupBy(col("from_type"))
      .agg(count(lit(1)).as("n_branches"),
        sum(col("n")).as("row_total"),
        sum(col("n") * floor(log(col("n").cast("double")) * 1e6 + lit(0.5))
          .cast("long")).as("snln_u"))
      .select(col("from_type"), col("n_branches"), col("row_total"),
        round(log(col("row_total").cast("double"))
          - col("snln_u").cast("double") / 1e6 / col("row_total").cast("double"),
          6).as("entropy"),
        round(log(col("n_branches").cast("double")), 6).as("max_entropy"))
      .orderBy(col("from_type"))
  }

  val transitionEntropyOracle: String =
    """WITH seq AS (
      |  SELECT event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS from_type
      |  FROM events),
      |cnt AS (
      |  SELECT from_type, event_type AS to_type, count(*) AS n
      |  FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, count(*) AS n_branches,
      |  cast(sum(n) AS bigint) AS row_total,
      |  round(ln(cast(sum(n) AS double))
      |    - cast(sum(n * cast(floor(ln(cast(n AS double)) * 1e6 + 0.5)
      |        AS bigint)) AS double)
      |      / 1e6 / cast(sum(n) AS double), 6) AS entropy,
      |  round(ln(cast(count(*) AS double)), 6) AS max_entropy
      |FROM cnt GROUP BY 1 ORDER BY 1""".stripMargin

  /** CUSUM change-point audit (`ev_changepoint`) — per event type, the
    * maximum cumulative upward drift of hourly traffic against the
    * series' own mean rate, and the hour where it peaks: Page's CUSUM
    * statistic max_t (P_t − min_{j≤t} P_j) over P = prefix sums of
    * (count − mean), the standard mean-shift detector an operations team
    * runs over rate series. Each type's trailing OPEN hour is excluded —
    * a change-point verdict on a partial hour would flap (and the
    * exclusion is exactly what the streaming twin [[graft.streaming.StreamOps.cusumStream]]
    * sees, so batch and stream agree on the closed-hour universe).
    *
    * Plan shape: the corpus collapses to a \|types\|×\|hours\| hourly
    * matrix FIRST (partial agg), so the two stacked windows (prefix sum,
    * then running min) run over series bounded by TIME, never event
    * volume — a year is 8760 rows per type whatever the TB count. All
    * integer (floor-div mean), ties on max drift resolve to the earliest
    * hour via lexicographic [drift, −hour] max in both engines. */
  def changepoint(spark: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(spark, d)
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000").as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n"))
    val lastH = hourly.groupBy(col("event_type")).agg(max(col("hour")).as("maxh"))
    val closed = hourly.join(broadcast(lastH), "event_type")
      .filter(col("hour") < col("maxh"))
    val stats = closed.groupBy(col("event_type"))
      .agg(sum(col("n")).as("total"), count(lit(1)).as("nh"))
      .select(col("event_type"), col("nh"), expr("total div nh").as("mean_n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    closed.join(broadcast(stats), "event_type")
      .withColumn("p", sum(col("n") - col("mean_n")).over(w))
      .withColumn("runmin", min(col("p")).over(w))
      .withColumn("drift", col("p") - col("runmin"))
      .groupBy(col("event_type"))
      .agg(max(col("nh")).as("n_hours"), max(col("mean_n")).as("mean_per_hour"),
        max(array(col("drift"), -col("hour"))).as("dm"))
      .select(col("event_type"), col("n_hours"), col("mean_per_hour"),
        element_at(col("dm"), 1).as("max_drift"),
        (-element_at(col("dm"), 2)).as("drift_hour"))
      .orderBy(col("event_type"))
  }

  val changepointOracle: String =
    """WITH hourly AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |closed AS (
      |  SELECT h.* FROM hourly h
      |  JOIN (SELECT event_type, max(hour) AS maxh FROM hourly GROUP BY 1) m
      |    ON h.event_type = m.event_type AND h.hour < m.maxh),
      |stats AS (
      |  SELECT event_type, count(*) AS nh,
      |    cast(sum(n) // count(*) AS bigint) AS mean_n
      |  FROM closed GROUP BY 1),
      |ser AS (
      |  SELECT closed.event_type, hour, nh, mean_n,
      |    sum(n - mean_n) OVER (PARTITION BY closed.event_type ORDER BY hour
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      |  FROM closed JOIN stats ON closed.event_type = stats.event_type),
      |dr AS (
      |  SELECT event_type, hour, nh, mean_n,
      |    p - min(p) OVER (PARTITION BY event_type ORDER BY hour
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS drift
      |  FROM ser)
      |SELECT event_type, cast(max(nh) AS bigint) AS n_hours,
      |  max(mean_n) AS mean_per_hour,
      |  cast(max([drift, -hour])[1] AS bigint) AS max_drift,
      |  cast(-max([drift, -hour])[2] AS bigint) AS drift_hour
      |FROM dr GROUP BY 1 ORDER BY 1""".stripMargin

  /** Order-to-ship latency (`q_ship_latency`) — fulfilment-cycle SLA per
    * order priority: integer day gaps between o_orderdate and each line's
    * l_shipdate, with exact order statistics computed ENTIRELY in integer
    * arithmetic over a (priority, gap_days) histogram — no float quantile
    * anywhere, so no engine-dependent cast-rounding (Spark truncates
    * cast(double as long), DuckDB rounds; interpolated 0.9-quantiles land
    * on tenths and diverge). p50_x2 is the two bracketing median ranks
    * summed (odd n ⇒ 2× the middle element — exactly `quantile_cont(.5)*2`
    * but integral by construction); p90_floor is the order statistic at
    * zero-indexed rank ⌊0.9·(n−1)⌋, the lower bracket of the continuous
    * p90. The histogram groupBy map-side-combines onto the tiny
    * (priority × distinct day-gap) key domain — a few hundred rows at ANY
    * corpus size — so the rank scan is a per-priority window over ~100
    * rows, not a sort of the fact table; this is the 100 TB shape (the
    * previous exact `percentile` buffered every value per group). */
  def shipLatency(spark: SparkSession, d: String): DataFrame = {
    val hist = Tables.lineitem(spark, d)
      // dates are TIMESTAMP_NTZ in the testdata; the session tz is pinned
      // UTC so the instant cast is value-identical (the Tables.events rule)
      .select(col("l_orderkey"),
        unix_micros(col("l_shipdate").cast("timestamp")).as("sus"))
      .join(Tables.orders(spark, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("ous")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        expr("(sus - ous) div 86400000000").as("gap_days"))
      .groupBy(col("o_orderpriority"), col("gap_days"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("o_orderpriority").orderBy("gap_days")
    hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy("o_orderpriority")))
      .withColumn("tot", sum(col("gap_days") * col("cnt"))
        .over(Window.partitionBy("o_orderpriority")))
      .groupBy(col("o_orderpriority"))
      .agg(max(col("n")).as("n_lines"),
        expr("max(tot) div max(n)").as("mean_days"),
        (min(when(col("cum") >= expr("(n + 1) div 2"), col("gap_days"))) +
          min(when(col("cum") >= expr("n div 2 + 1"), col("gap_days"))))
          .as("p50_x2"),
        min(when(col("cum") >= expr("((n - 1) * 9) div 10 + 1"),
          col("gap_days"))).as("p90_floor"))
      .orderBy(col("o_orderpriority"))
  }

  val shipLatencyOracle: String =
    """WITH g AS (
      |  SELECT o_orderpriority,
      |    (epoch_us(l_shipdate) - epoch_us(o_orderdate)) // 86400000000
      |      AS gap_days
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |h AS (
      |  SELECT o_orderpriority, gap_days, count(*) AS cnt
      |  FROM g GROUP BY 1, 2),
      |c AS (
      |  SELECT o_orderpriority, gap_days, cnt,
      |    sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY gap_days
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(cnt) OVER (PARTITION BY o_orderpriority) AS n,
      |    sum(gap_days * cnt) OVER (PARTITION BY o_orderpriority) AS tot
      |  FROM h)
      |SELECT o_orderpriority, cast(max(n) AS bigint) AS n_lines,
      |  cast(max(tot) // max(n) AS bigint) AS mean_days,
      |  cast(min(CASE WHEN cum >= (n + 1) // 2 THEN gap_days END)
      |     + min(CASE WHEN cum >= n // 2 + 1 THEN gap_days END)
      |       AS bigint) AS p50_x2,
      |  cast(min(CASE WHEN cum >= ((n - 1) * 9) // 10 + 1 THEN gap_days END)
      |       AS bigint) AS p90_floor
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** Sliding-window traffic counts (`ev_sliding_counts`) — the OVERLAPPING
    * window shape (1 h window, 15 min slide: every event lands in exactly
    * 4 windows) a monitoring dashboard reads for smooth trend lines, where
    * [[windowCounts]] is the tumbling form. Uses Spark's native
    * `window()` generator — the same epoch-aligned window assignment the
    * streaming `StreamOps.windowedCounts` runs with a watermark, so batch
    * and stream agree window-for-window (the slide parity spec pins it).
    * The ×4 row expansion happens map-side inside the generator and
    * partial-aggregates before the one (window, type) shuffle; revenue in
    * exact cents, window starts exported as epoch-µs integers so the
    * oracle reproduces the assignment arithmetically. */
  def slidingCounts(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("rev_cents"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("rev_cents"))
      .orderBy(col("window_start_us"), col("event_type"))

  val slidingCountsOracle: String =
    """WITH x AS (
      |  SELECT epoch_us(ts) AS us, event_type,
      |    cast(floor(value * 100 + 0.5) AS bigint) AS cents
      |  FROM events),
      |w AS (
      |  SELECT (us // 900000000 - k) * 900000000 AS window_start_us,
      |    event_type, cents
      |  FROM x CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) g)
      |SELECT window_start_us, event_type, count(*) AS n_events,
      |  cast(sum(cents) AS bigint) AS rev_cents
      |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Inter-event gap histogram (`ev_gap_histogram`) — per event type, the
    * distribution of per-user dwell gaps in OCTAVE (log2-second) buckets:
    * the traffic-texture companion of [[burstiness]] (which reduces the
    * distribution to one index) and the calibration input for session-gap
    * and watermark choices. Bucket = bit-length of (gap seconds + 1) via
    * `length(bin(x))` — pure integer, identical in both engines (the
    * `ev_key_skew` trick); output is ≤ \|types\|·~40 rows at any volume.
    * One user-partitioned lag window + a partial agg. */
  def gapHistogram(spark: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("from_us", lag(col("us"), 1).over(byUser))
      .filter(col("from_us").isNotNull)
      .select(col("event_type"),
        expr("(us - from_us) div 1000000").as("gs"))
      .groupBy(col("event_type"),
        length(bin(expr("gs + 1"))).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gs")).as("min_gap_s"), max(col("gs")).as("max_gap_s"))
      .orderBy(col("event_type"), col("bucket"))
  }

  val gapHistogramOracle: String =
    """WITH seq AS (
      |  SELECT event_type,
      |    (epoch_us(ts) - lag(epoch_us(ts)) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS gs
      |  FROM events)
      |SELECT event_type, cast(length(bin(gs + 1)) AS bigint) AS bucket,
      |  count(*) AS n_gaps,
      |  cast(min(gs) AS bigint) AS min_gap_s,
      |  cast(max(gs) AS bigint) AS max_gap_s
      |FROM seq WHERE gs IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** First-order Markov transition model (`ev_transition_matrix`) — the
    * probability layer on top of `ev_user_paths`' raw counts: per
    * (from_type → to_type) edge the transition count, its probability in
    * exact basis points of the from-row total, and the mean dwell time
    * (µs between the two events, integer floor division). The layer a
    * product-analytics engine publishes as "what happens next and how
    * fast" (Markov attribution / next-event prediction baselines).
    *
    * Plan shape: one high-cardinality user window (lag over user_id — the
    * same per-user partitioning every sequence operator here rides), a
    * \|types\|²-row partial agg, and the row totals broadcast back onto
    * the matrix — nothing corpus-sized shuffles twice, and the output is
    * \|types\|² rows at any event volume. All arithmetic is integer
    * (µs gaps, basis points), so the oracle matches bit-for-bit. */
  def transitionMatrix(spark: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val seq = Tables.events(spark, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("from_type", lag(col("event_type"), 1).over(byUser))
      .withColumn("from_us", lag(col("us"), 1).over(byUser))
      .filter(col("from_type").isNotNull)
    val cnt = seq.groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"),
        sum(col("us") - col("from_us")).as("gap_sum_us"))
    val tot = cnt.groupBy(col("from_type"))
      .agg(sum(col("n_transitions")).as("row_total"))
    cnt.join(broadcast(tot), "from_type")
      .select(col("from_type"), col("to_type"), col("n_transitions"),
        expr("n_transitions * 10000 div row_total").as("prob_bp"),
        expr("gap_sum_us div n_transitions").as("mean_gap_us"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val transitionMatrixOracle: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER w AS from_type,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |cnt AS (
      |  SELECT from_type, event_type AS to_type,
      |    count(*) AS n_transitions, sum(gap_us) AS gap_sum_us
      |  FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT from_type, sum(n_transitions) AS row_total
      |        FROM cnt GROUP BY 1)
      |SELECT from_type, to_type, n_transitions,
      |  cast(n_transitions * 10000 // row_total AS bigint) AS prob_bp,
      |  cast(gap_sum_us // n_transitions AS bigint) AS mean_gap_us
      |FROM cnt JOIN tot USING (from_type) ORDER BY 1, 2""".stripMargin

  /** Stationary event-type distribution (`ev_markov_stationary`) — three
    * integer power-iteration steps of the user-journey Markov chain
    * (the PageRank shape on the [[transitionMatrix]] model): where does a
    * long-running session's attention settle, the summary a product team
    * reads next to the per-edge matrix. ONE corpus pass builds the
    * transition counts; every subsequent step is a join + aggregate over
    * the MODEL-sized frame (≤ \|types\|² rows, localCheckpoint-pinned —
    * the `vec_power_iter`/`text_bpe_curve` driver-round discipline), so
    * three steps or thirty cost the same corpus I/O. All-integer: mass
    * starts at 10⁶ per type and each step moves `v·n div row_total` along
    * every edge (floor division, mirrored exactly in the oracle), so no
    * float ever executes — the unigram-curve lesson applied from birth.
    * Support is the from-type chain (a type with no outgoing edges sheds
    * its mass at the next step — the absorbing-state caveat, documented
    * rather than patched, since every type at every SF has outgoing
    * edges). */
  def markovStationary(spark: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cnt = Tables.events(spark, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val rowTotals = cnt.groupBy(col("from_type")).agg(sum(col("n")).as("row_total"))
    val p = cnt.join(broadcast(rowTotals), "from_type")
    val v0 = cnt.select(col("from_type").as("t")).distinct()
      .select(col("t"), lit(1000000L).as("v"))
    def step(v: DataFrame): DataFrame =
      p.join(broadcast(v), col("from_type") === col("t"))
        .select(col("to_type"), expr("v * n div row_total").as("m"))
        .groupBy(col("to_type")).agg(sum(col("m")).as("v"))
        .select(col("to_type").as("t"), col("v"))
    val v3 = step(step(step(v0)))
    val tot = v3.agg(sum(col("v")).as("tot"))
    v3.crossJoin(broadcast(tot))
      .select(col("t").as("event_type"), col("v").as("mass"),
        expr("v * 10000 div tot").as("share_bp"))
      .orderBy(col("event_type"))
  }

  val markovStationaryOracle: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER w AS from_type
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |cnt AS (
      |  SELECT from_type, event_type AS to_type, count(*) AS n
      |  FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2),
      |rt AS (SELECT from_type, sum(n) AS row_total FROM cnt GROUP BY 1),
      |p AS (SELECT c.from_type, c.to_type, c.n, r.row_total
      |      FROM cnt c JOIN rt r USING (from_type)),
      |v0 AS (SELECT DISTINCT from_type AS t, cast(1000000 AS bigint) AS v FROM cnt),
      |v1 AS (SELECT to_type AS t, cast(sum(v * n // row_total) AS bigint) AS v
      |       FROM p JOIN v0 ON p.from_type = v0.t GROUP BY 1),
      |v2 AS (SELECT to_type AS t, cast(sum(v * n // row_total) AS bigint) AS v
      |       FROM p JOIN v1 ON p.from_type = v1.t GROUP BY 1),
      |v3 AS (SELECT to_type AS t, cast(sum(v * n // row_total) AS bigint) AS v
      |       FROM p JOIN v2 ON p.from_type = v2.t GROUP BY 1),
      |tot AS (SELECT sum(v) AS tot FROM v3)
      |SELECT t AS event_type, v AS mass,
      |  cast(v * 10000 // tot AS bigint) AS share_bp
      |FROM v3, tot ORDER BY 1""".stripMargin

  /** Weekly seasonality profile (`ev_seasonality`) — the day-of-week ×
    * hour-of-day traffic matrix (168 cells) an operations dashboard keeps
    * for capacity planning and anomaly baselines: events, purchases, exact
    * revenue cents, mean value cents (floor division), and each cell's
    * share of total traffic in basis points.
    *
    * Calendar terms are computed ARITHMETICALLY from epoch-µs integers
    * (day index + 4 mod 7 puts Sunday at 0 — 1970-01-01 was a Thursday),
    * never via engine calendar functions whose week-start conventions
    * differ; every number is integer, so the oracle is bit-exact. One
    * partial agg to 168 rows + a one-row total broadcast back — the
    * output is fixed-size at any event volume. */
  def seasonality(spark: SparkSession, d: String): DataFrame = {
    val cells = Tables.events(spark, d)
      .select(unix_micros(col("ts")).as("us"), col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .select(expr("(us div 86400000000 + 4) % 7").as("dow"),
        expr("(us div 3600000000) % 24").as("hour"),
        col("event_type"), col("cents"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
        sum(col("cents")).as("rev_cents"))
    val tot = cells.agg(sum(col("n_events")).as("total_events"))
    cells.join(broadcast(tot))
      .select(col("dow"), col("hour"), col("n_events"), col("n_purchases"),
        col("rev_cents"),
        expr("rev_cents div n_events").as("mean_cents"),
        expr("n_events * 10000 div total_events").as("share_bp"))
      .orderBy(col("dow"), col("hour"))
  }

  val seasonalityOracle: String =
    """WITH cells AS (
      |  SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
      |    (epoch_us(ts) // 3600000000) % 24 AS hour,
      |    count(*) AS n_events,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purchases,
      |    sum(cast(floor(value * 100 + 0.5) AS bigint)) AS rev_cents
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT sum(n_events) AS total_events FROM cells)
      |SELECT cast(dow AS bigint) AS dow, cast(hour AS bigint) AS hour,
      |  n_events, cast(n_purchases AS bigint) AS n_purchases,
      |  cast(rev_cents AS bigint) AS rev_cents,
      |  cast(rev_cents // n_events AS bigint) AS mean_cents,
      |  cast(n_events * 10000 // total_events AS bigint) AS share_bp
      |FROM cells, tot ORDER BY 1, 2""".stripMargin
}
