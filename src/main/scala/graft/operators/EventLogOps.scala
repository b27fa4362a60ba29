package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Portable
import graft.sources.Tables

/** The reference's event-log surface, re-expressed as Spark batch
  * operators over the `events` table.
  *
  * Mapping (see SURVEY.md §3): `ts` ≈ the envelope `time`, `props` ≈
  * the raw JSON `detail`, `event_type` ≈ the route/stream name,
  * `event_id` ≈ the memlog's monotone sequential offset.
  *
  * Reference cites:
  *  - envelope parse + skip-on-error:
  *    internal/kinesis2sse/record_processor.go:52-101
  *  - timestamp→nearest-offset (forward seek, backward fallback):
  *    internal/kinesis2sse/timestamp2offset.go:60-80
  *  - bounded log capacity (default 100k):
  *    internal/kinesis2sse/service.go:97-104
  *  - SSE frame format `data: <json>\n\n`:
  *    internal/kinesis2sse/service.go:271
  *  - per-route fan-out: internal/kinesis2sse/service.go:92-128
  *  - start positions LATEST/TRIM_HORIZON/ts/duration:
  *    kinesis2sse.go:117-126
  *
  * Scale notes: every query is one scan plus at most one shuffle on a
  * bounded key space (hours, routes, or nothing). The nearest-offset
  * lookup aggregates events to the probe grid first (shuffle of
  * |hours| rows, not |events|), then answers all probes with two
  * windows over the tiny grid. Capacity retention uses orderBy+limit,
  * which Spark plans as TakeOrderedAndProject (per-partition top-N,
  * merge of N·P rows — the table never crosses the shuffle).
  */
object EventLogOps {

  private val D = DecimalType(18, 2)
  private val MicrosPerHour = 3600L * 1000000L
  private val MicrosPerDay = 24L * MicrosPerHour

  /** ts_nanos DIV 1000: µs-since-epoch, bit-identical to DuckDB's read
    * of the same TIMESTAMP(NANOS) column. Integer division — a double
    * quotient of ~1.7e18 loses the low bits. */
  private def tsUs = expr("ts DIV 1000")

  // ---------------------------------------------------------------- A1
  /** Envelope parse with skip-on-error: drop records whose time is
    * missing, whose detail (props) is missing, or whose detail does not
    * parse as a JSON object with the expected field — mirroring
    * record_processor.go:59-88's skip semantics. */
  def parse(spark: SparkSession, dir: String): DataFrame =
    // Range-partition FIRST, on the raw scan, then sort within
    // partitions and parse: output is still totally ordered (contiguous
    // ranges in partition order, ordered within), but the range sampler
    // runs over the bare scan instead of re-evaluating the JSON
    // extraction for a second full pass the way a trailing orderBy did
    // (measured 2.2 s -> 1.7 s steady-state at sf0.1). Catalyst pushes
    // the whole skip filter, the JSON `k` check included, below the
    // range Exchange, and `IsNotNull(ts), IsNotNull(props)` into the
    // scan's PushedFilters, so skipped records never ride the shuffle
    // (PlanSpec pins both).
    Tables.eventsRaw(spark, dir)
      .repartitionByRange(col("event_id"))
      .sortWithinPartitions("event_id")
      .select(col("event_id"), tsUs.as("ts_us"), col("props"),
        Portable.intStrict(Portable.jsonGetString(col("props"), "$.k")).as("k"))
      .where(col("ts_us").isNotNull && col("props").isNotNull && col("k").isNotNull)
      .select(col("event_id"), col("ts_us"), col("k"), col("props").as("detail"))

  val parseSql: String =
    s"""SELECT event_id, epoch_us(ts) AS ts_us,
      |  ${Portable.intStrictSql("json_extract_string(props, '$.k')")} AS k,
      |  props AS detail
      |FROM events
      |WHERE ts IS NOT NULL AND props IS NOT NULL
      |  AND ${Portable.intStrictSql("json_extract_string(props, '$.k')")} IS NOT NULL
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- A12
  /** Skip-reason audit — the observability counterpart of [[parse]]:
    * counts records per skip reason with the same check ORDER as the
    * reference's processor (time first, then detail presence, then
    * detail parse — record_processor.go:59-88), so `ok` + skipped
    * reasons partition the raw count exactly. One partial-aggregated
    * shuffle on a ≤4-value key; the reason CASE is a narrow map-side
    * expression. */
  def skipAudit(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsRaw(spark, dir)
      .select(col("event_id"), tsUs.as("ts_us"), col("props"),
        Portable.intStrict(Portable.jsonGetString(col("props"), "$.k")).as("k"))
      .withColumn("reason",
        when(col("ts_us").isNull, "missing_time")
          .when(col("props").isNull, "missing_detail")
          .when(col("k").isNull, "bad_detail")
          .otherwise("ok"))
      .groupBy("reason")
      .agg(count(lit(1)).as("n"),
        min("event_id").as("first_id"), max("event_id").as("last_id"))
      .orderBy("reason")

  val skipAuditSql: String =
    s"""SELECT reason, count(*) AS n,
      |  min(event_id) AS first_id, max(event_id) AS last_id
      |FROM (
      |  SELECT event_id,
      |    CASE WHEN ts IS NULL THEN 'missing_time'
      |         WHEN props IS NULL THEN 'missing_detail'
      |         WHEN ${Portable.intStrictSql("json_extract_string(props, '$.k')")} IS NULL
      |           THEN 'bad_detail'
      |         ELSE 'ok' END AS reason
      |  FROM events) t
      |GROUP BY reason
      |ORDER BY reason""".stripMargin

  // ---------------------------------------------------------------- A14
  /** Raw JSON-envelope ingest — the reference's ACTUAL input format
    * (record_processor.go:61-88): each line is `{"time": RFC3339,
    * "detail": {...}, ...}`; skip when the JSON doesn't parse, `time`
    * is missing or not RFC3339, or `detail` is missing. Takes any
    * frame with a string `value` column (batch `spark.read.text` or
    * `readStream.text` — the SAME code serves both, which is the point
    * of declaring the transform), so the Kinesis consumer is a source
    * swap, not a rewrite. Narrow per-line expressions end to end.
    *
    * `to_timestamp` returns null on non-conforming input (legacy
    * parser policy not required: try_to_timestamp semantics via
    * null-safe CASE), which IS the skip rule. The offset column is
    * left to the caller (file sources have no global order; the
    * memlog's sequential offset is the streaming sink's concern). */
  /** The exact shape Go's `time.Parse(time.RFC3339)` accepts: full
    * date, 'T', full time, optional fraction, 'Z' or ±HH:MM offset.
    * Spark's default ISO parser is MORE lenient (date-only, space
    * separator, missing offset — interpreted in the session timezone),
    * so the shape is gated by regex BEFORE parsing: an envelope the
    * reference skips must be skipped here too, never silently ingested
    * with a timezone-dependent timestamp. */
  private val Rfc3339Re =
    // \z, not $: Java's $ matches before a trailing line terminator, so
    // "...Z\n" would pass the gate (and try_to_timestamp trims it) even
    // though Go's parser rejects the trailing byte
    "^[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}([.][0-9]+)?(Z|[+-][0-9]{2}:[0-9]{2})\\z"

  def parseEnvelopes(lines: DataFrame): DataFrame =
    lines
      .select(col("value"),
        get_json_object(col("value"), "$.time").as("time_str"),
        // get_json_object can't tell a MISSING "detail" key from an
        // explicit JSON null — but the reference ingests the latter
        // (record_processor.go:78: map lookup ok=true for null,
        // json.Marshal(nil) -> "null" into the memlog). Key presence
        // is checked on the top-level key list; a null value is then
        // kept as the literal 'null' payload. json_object_keys is
        // null for non-object JSON (arrays/scalars/garbage), which
        // skips — exactly json.Unmarshal-into-map's failure.
        array_contains(expr("json_object_keys(value)"), "detail").as("has_detail"),
        get_json_object(col("value"), "$.detail").as("detail_raw"))
      .withColumn("ts_us",
        when(col("time_str").rlike(Rfc3339Re),
          unix_micros(expr("try_to_timestamp(time_str)"))))
      .where(col("ts_us").isNotNull && col("has_detail"))
      .select(col("ts_us"), coalesce(col("detail_raw"), lit("null")).as("detail"))

  // ---------------------------------------------------------------- A2
  /** `?since=` resume filter (service.go:226-242): events at or after a
    * client-supplied instant. The predicate compares raw nanos against
    * a literal so it reaches the parquet scan (PushedFilters). */
  def since(spark: SparkSession, dir: String,
            sinceNs: Long = 1705276800000000000L /* 2024-01-15T00:00:00Z */): DataFrame = {
    Tables.eventsRawRange(spark, dir, sinceNs)
      .select(col("event_id"), tsUs.as("ts_us"), col("event_type"), col("value"))
      .orderBy("event_id")
  }

  val sinceSql: String =
    """SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
      |ORDER BY event_id""".stripMargin

  /** [[since]] over the date-partitioned layout
    * ([[graft.sources.Tables.writeEventsPartitioned]]): identical rows, but the
    * resume instant also bounds the PARTITION column —
    * `event_date >= date(since)` is implied by `ts >= since` (the
    * partition key is the UTC date of `ts`), and stating it lets the
    * planner prune whole date directories at file-listing time. At
    * 100 TB this is the difference between listing a few days of
    * files and opening every row group the flat layout ever wrote:
    * service.go:226-242's resume semantics are a partition prune.
    * The exact `ts` predicate still pushes to the scan for the
    * boundary day. PlanSpec pins both (PartitionFilters +
    * PushedFilters) and row-equality with the flat path. */
  def sincePartitioned(spark: SparkSession, dir: String,
                       sinceNs: Long = 1705276800000000000L): DataFrame = {
    // partition bound computed driver-side as a UTC date: to_date over
    // a timestamp truncates in the SESSION zone, so a non-UTC session
    // would prune a different day boundary than the layout wrote
    val sinceDate = java.time.LocalDate.ofEpochDay(
      Math.floorDiv(Math.floorDiv(sinceNs, 1000L), 86400000000L))
    Tables.eventsPartitionedRaw(spark, dir)
      .where(col("event_date") >= to_date(lit(sinceDate.toString)) &&
        col("ts") >= sinceNs)
      .select(col("event_id"), tsUs.as("ts_us"), col("event_type"), col("value"))
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- A3
  /** Timestamp→nearest-offset, the reference's only query operator
    * (timestamp2offset.go:60-80), answered for each probe instant by
    * the one `since` rule stated at
    * [[graft.streaming.SseHub.resolveSinceOffset]] (forward seek,
    * backward fallback), over the whole log instead of one route's
    * ring.
    *
    * Scalable shape: aggregate events to the hourly probe grid (one
    * shuffle of |hours| rows), then a suffix-min / prefix-max window
    * pair over the grid answers every probe. Probe cardinality is
    * bounded (resume requests), so the unpartitioned window over the
    * grid is a non-issue at any data scale. */
  def nearestOffset(spark: SparkSession, dir: String): DataFrame =
    // probe instants built zone-free (a timestamp'...' literal parses
    // in the SESSION zone — a non-UTC consumer session would shift the
    // whole probe grid relative to the oracle's naive-UTC sequence)
    nearestOffsetFor(spark, dir, spark.range(1).select(
      explode(sequence(
        Portable.utcTs("2024-01-01"), Portable.utcTs("2024-01-31"),
        expr("interval 1 hour"))).as("probe_ts")))

  /** Parameterized form: answer HOUR-ALIGNED probe instants (column
    * `probe_ts`; enforced by truncation) against the event log — the
    * probe set may be arbitrary and sparse, it need not cover the
    * event span.
    *
    * The hourly event aggregates are UNIONED into the window timeline
    * (not equi-joined), so a probe inherits the nearest non-empty
    * hour's offsets via suffix-min/prefix-max — an exact-hour match is
    * not required. Same-instant ordering: for the forward seek the
    * event row sorts with the probe's frame (ts >= probe includes the
    * probe's own hour); for the backward fallback it is excluded
    * (strictly earlier only).
    *
    * Both windows are unpartitioned, so Spark warns "No Partition
    * Defined" and runs them in one task. They read only the union of
    * the hourly aggregate and the probe rows: at most |hours| +
    * |probes| rows, never |events|. `PlanSpec` pins that bound. */
  def nearestOffsetFor(spark: SparkSession, dir: String, probes: DataFrame): DataFrame = {
    val ev = Tables.events(spark, dir)
    // UTC hour-truncation, arithmetic: date_trunc runs in the session
    // zone, which only coincides with UTC truncation in whole-hour
    // zones (a +05:45 session would land probes between grid lines)
    val hourly = ev
      .groupBy(Portable.utcHourTruncMicros(unix_micros(col("ts_us"))).as("t"))
      .agg(min("event_id").as("min_id"), max("event_id").as("max_id"))
      .withColumn("is_probe", lit(0))
    val probeRows = probes
      .select(Portable.utcHourTruncMicros(unix_micros(col("probe_ts"))).as("t"))
      .withColumn("min_id", lit(null).cast("long"))
      .withColumn("max_id", lit(null).cast("long"))
      .withColumn("is_probe", lit(1))
    val timeline = hourly.unionByName(probeRows)
    // suffix-min over (t desc, events-before-probes at equal t): the
    // probe's frame includes its own hour's event row
    val wFwd = Window.orderBy(col("t").desc, col("is_probe"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // prefix-max over (t asc, probes-before-events at equal t): the
    // probe's frame excludes its own hour (strictly earlier)
    val wBwd = Window.orderBy(col("t"), col("is_probe").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    timeline
      .withColumn("fwd", min("min_id").over(wFwd))
      .withColumn("bwd", max("max_id").over(wBwd))
      .where(col("is_probe") === 1)
      .select(unix_micros(col("t")).as("probe_us"),
        coalesce(col("fwd"), col("bwd")).as("offset_id"))
      .orderBy("probe_us")
  }

  val nearestOffsetSql: String =
    """WITH probes AS (
      |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
      |                                TIMESTAMP '2024-01-31 00:00:00',
      |                                INTERVAL 1 HOUR)) AS probe_ts)
      |SELECT epoch_us(probe_ts) AS probe_us,
      |  coalesce((SELECT min(e.event_id) FROM events e WHERE e.ts >= probe_ts),
      |           (SELECT max(e.event_id) FROM events e WHERE e.ts < probe_ts)) AS offset_id
      |FROM probes
      |ORDER BY probe_us""".stripMargin

  // ---------------------------------------------------------------- A4
  /** Bounded log, capacity N (service.go:97-104; memlog default 100k):
    * retain the newest N events by offset. orderBy+limit plans as
    * TakeOrderedAndProject — per-partition top-N then an N·P-row merge,
    * never a full-table shuffle. */
  def retentionCapacity(spark: SparkSession, dir: String, capacity: Int = 500): DataFrame =
    Tables.eventsRaw(spark, dir)
      .select(col("event_id"), tsUs.as("ts_us"), col("event_type"), col("value"))
      .orderBy(col("event_id").desc)
      .limit(capacity)
      .orderBy("event_id")

  val retentionCapacitySql: String =
    """SELECT * FROM (
      |  SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
      |  FROM events ORDER BY event_id DESC LIMIT 500)
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- A5
  /** Bounded log, max-age M (README: "N events no older than M"):
    * retain events within a trailing window of the newest event.
    * Threshold math is done in µs on both engines so the instants are
    * bit-identical. */
  def retentionAge(spark: SparkSession, dir: String, days: Int = 7): DataFrame = {
    val ev = Tables.eventsRaw(spark, dir)
    val bounds = ev.agg(max(tsUs).as("max_us"))
    ev.crossJoin(broadcast(bounds))
      .where(tsUs >= col("max_us") - lit(days * MicrosPerDay))
      .select(col("event_id"), tsUs.as("ts_us"), col("event_type"), col("value"))
      .orderBy("event_id")
  }

  val retentionAgeSql: String =
    """SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
      |FROM events
      |WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 7 DAY
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- A6
  /** SSE frame `data: {"time":"<RFC3339-µs>","detail":<json>}\n\n` —
    * byte-compatible with service.go:271's `data: %s\n\n`. THE single
    * source of the frame format: the batch projection ([[sseFrames]])
    * and the hub's ingest (`graft.streaming.SseHub.start`) both use
    * this column. It is one `graft_sse_frame` node
    * ([[graft.plans.SseFrameOps]]): the frame is written in one pass
    * by exact integer arithmetic in UTC, so it is the same in every
    * session time zone and needs no formatter or intermediate string.
    * Null when either input is null. */
  def sseFrameCol(spark: SparkSession, tsUs: Column, detail: Column): Column = {
    graft.plans.GraftFunctions.register(spark)
    call_function("graft_sse_frame", tsUs, detail)
  }

  /** SSE frame projection (service.go:271).
    *
    * Same shape as [[parse]]: range-partition the RAW scan first, sort
    * within partitions, then project — output is still totally ordered
    * (contiguous ranges in partition order), but the per-row frame
    * building runs on every core instead of serializing behind a
    * single-split scan + trailing sort (the documented local
    * single-split narrow-op pattern; a trailing orderBy also made the
    * range sampler build every frame a second time).
    *
    * ORDERING CONTRACT: the plan carries no logical Sort — rows are
    * ordered only under partition-order consumption (collect,
    * coalesce(1), toLocalIterator, or a sink that writes partitions in
    * index order — exactly how Verify and the SSE serving path consume
    * frames). An ordering-aware operator stacked on top (limit, another
    * window) must re-sort; callers needing a plan-visible ordering
    * should append .orderBy("event_id") themselves. */
  def sseFrames(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .repartitionByRange(col("event_id"))
      .sortWithinPartitions("event_id")
      .select(col("event_id"),
        sseFrameCol(spark, col("ts_us"), col("props")).as("frame"))

  val sseFramesSql: String =
    """SELECT event_id,
      |  'data: {"time":"' || strftime(make_timestamp(epoch_us(ts)), '%Y-%m-%dT%H:%M:%S.%fZ')
      |    || '","detail":' || props || '}' || chr(10) || chr(10) AS frame
      |FROM events
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- A7
  /** Multi-route fan-out (service.go:92-128): one bounded log per
    * route — summarized as per-route stats (offset range, count, total
    * value). One shuffle on the route key. */
  def routes(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsRaw(spark, dir)
      .groupBy(col("event_type").as("route"))
      .agg(
        count(lit(1)).as("n_events"),
        min("event_id").as("first_offset"),
        max("event_id").as("last_offset"),
        sum(col("value").cast(D)).cast(DoubleType).as("total_value"))
      .orderBy("route")

  val routesSql: String =
    """SELECT event_type AS route, count(*) AS n_events,
      |  min(event_id) AS first_offset, max(event_id) AS last_offset,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY route""".stripMargin

  // ---------------------------------------------------------------- A8
  /** Start-position resolution (kinesis2sse.go:117-126): map each of
    * LATEST / TRIM_HORIZON / AT_TIMESTAMP / DURATION-ago to the offset
    * a new subscription would begin at. One aggregate pass computes all
    * four; AT_TIMESTAMP and DURATION apply the one `since` rule
    * ([[graft.streaming.SseHub.resolveSinceOffset]]: forward seek,
    * backward fallback) as conditional aggregates. */
  def startPosition(spark: SparkSession, dir: String,
                    atUs: Long = 1705276800000000L /* 2024-01-15T00:00:00Z */,
                    durUs: Long = MicrosPerDay): DataFrame = {
    val ev = Tables.eventsRaw(spark, dir).select(col("event_id"), tsUs.as("us"))
    val bounds = ev.agg(max("us").as("max_us"))
    ev.crossJoin(broadcast(bounds))
      .agg(
        min("event_id").as("min_id"),
        max("event_id").as("max_id"),
        min(when(col("us") >= atUs, col("event_id"))).as("at_fwd"),
        max(when(col("us") < atUs, col("event_id"))).as("at_bwd"),
        min(when(col("us") >= col("max_us") - durUs, col("event_id"))).as("dur_fwd"),
        max(when(col("us") < col("max_us") - durUs, col("event_id"))).as("dur_bwd"))
      .selectExpr(
        """stack(4,
          |  'TRIM_HORIZON', min_id,
          |  'LATEST', max_id + 1,
          |  'AT_TIMESTAMP', coalesce(at_fwd, at_bwd),
          |  'DURATION_24H', coalesce(dur_fwd, dur_bwd)
          |) AS (mode, start_offset)""".stripMargin)
      .orderBy("mode")
  }

  val startPositionSql: String =
    """WITH b AS (SELECT min(event_id) AS min_id, max(event_id) AS max_id,
      |                  max(ts) AS max_ts FROM events)
      |SELECT 'TRIM_HORIZON' AS mode, min_id AS start_offset FROM b
      |UNION ALL SELECT 'LATEST', max_id + 1 FROM b
      |UNION ALL SELECT 'AT_TIMESTAMP', coalesce(
      |  (SELECT min(event_id) FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'),
      |  (SELECT max(event_id) FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'))
      |UNION ALL SELECT 'DURATION_24H', coalesce(
      |  (SELECT min(e.event_id) FROM events e, b WHERE e.ts >= b.max_ts - INTERVAL 24 HOUR),
      |  (SELECT max(e.event_id) FROM events e, b WHERE e.ts < b.max_ts - INTERVAL 24 HOUR))
      |ORDER BY mode""".stripMargin
}
