package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Structured Streaming ingest over the events table — the Spark
  * realization of the reference's KCL worker loop
  * (/root/reference/internal/kinesis2sse/service.go:133-141): a file
  * source stands in for the Kinesis shards (same micro-batch pull
  * model), with an explicit schema (required by streaming sources) and
  * AvailableNow termination so batch oracles can verify the result.
  *
  * At scale the file source is swapped for a real Kinesis/Kafka
  * source. NOTE the output-mode trade: [[EventStreams.windowCounts]]
  * runs COMPLETE mode with no watermark so its final state equals the
  * batch answer on finite data (the DuckDB-verifiable form) — state
  * there grows with the number of windows, which is fine for a
  * bounded replay but NOT for a continuous deployment. A continuous
  * deployment uses `.withWatermark("ts_us", d).groupBy(window(...))`
  * in APPEND mode instead — watermark-bounded state, same shuffle
  * shape (partial aggregates on (window, route)) — accepting that
  * each window emits only once the watermark passes it.
  *
  * Checkpoints: [[readEvents]] (like `DocStreams.readDocs` and
  * `VecStreams.readVecs`) installs [[LocalCheckpointFileManager]] as
  * the session's `spark.sql.streaming.checkpointFileManagerClass`
  * unless the user set that key, so every micro-batch's offset,
  * commit and source-log writes on a local checkpoint run through
  * `java.nio` instead of Hadoop's process-forking local file system.
  */
object EventStreams {

  /** Streaming events: file source with the pinned schema, ts exposed
    * both raw (nanos) and as a µs timestamp for watermarking. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    // same nanos handling the batch path (Tables.apply) guarantees —
    // a plain session must not fail here when batch reads succeed
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    LocalCheckpointFileManager.install(spark)
    val path = Tables.path(dir, "events")
    // vintage dispatch mirrors Tables.apply: a µs-TIMESTAMP file is
    // read with its own physical schema (the file source requires an
    // exact user schema) and normalized onto the nanos contract
    val micros = Tables.eventsTsIsMicros(spark, dir)
    val srcSchema =
      if (micros) spark.read.parquet(path).schema else Tables.eventsRawSchema
    val reader = spark.readStream.schema(srcSchema)
    // the file stream source watches a DIRECTORY: if the table IS a
    // directory (part-file layout) watch it directly; a single-file
    // table is selected out of the shared sf dir by leaf-name glob
    val raw =
      if (new java.io.File(path).isDirectory) reader.parquet(path)
      else reader.option("pathGlobFilter", "events.parquet").parquet(dir)
    val stream = if (micros) Tables.normalizeMicrosEvents(raw) else raw
    stream.withColumn("ts_us", timestamp_micros(expr("ts DIV 1000")))
  }

  private val D = DecimalType(18, 2)

  /** A9: streaming tumbling-window counts per route, run to completion
    * with AvailableNow and returned as a batch DataFrame (complete
    * output mode — all data is historical, so the final state equals
    * the batch answer and the DuckDB oracle can verify it). */
  def windowCounts(spark: SparkSession, dir: String): DataFrame = {
    val name = "wc_" + UUID.randomUUID().toString.replace("-", "")
    val agg = readEvents(spark, dir)
      .groupBy(window(col("ts_us"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(D)).cast("double").as("total_value"))
    val q = agg.writeStream
      .format("memory").queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // cut the plan from the memory-sink view (localCheckpoint) so the
    // view can be dropped — otherwise every invocation leaks a
    // fully-materialized result table for the session lifetime
    val out = spark.table(name)
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy("window_start_us", "event_type")
      .localCheckpoint()
    spark.catalog.dropTempView(name)
    out
  }

  /** The continuous-deployment form of [[windowCounts]]: watermarked,
    * APPEND output — state is bounded by the watermark (closed windows
    * are evicted after emission), so this is the variant that runs
    * forever on an unbounded stream. Same shuffle shape (partial
    * aggregates on (window, event_type)). The trade documented on the
    * object Scaladoc applies: a window is emitted exactly once, after
    * the event-time watermark (max seen ts − `delay`) passes its end —
    * so on a finite replay the trailing windows still open at
    * end-of-input are NOT in the output (the test asserts exactly
    * this boundary against the complete-mode answer). */
  def windowCountsAppend(spark: SparkSession, dir: String,
                         delay: String = "1 hour"): DataFrame = {
    val name = "wca_" + UUID.randomUUID().toString.replace("-", "")
    val agg = readEvents(spark, dir)
      .withWatermark("ts_us", delay)
      .groupBy(window(col("ts_us"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(D)).cast("double").as("total_value"))
    val q = agg.writeStream
      .format("memory").queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table(name)
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy("window_start_us", "event_type")
      .localCheckpoint()
    spark.catalog.dropTempView(name)
    out
  }

  val windowCountsSql: String =
    """SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS window_start_us,
      |  event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start_us, event_type""".stripMargin

  // -------------------------------------------------------------- A13
  /** Streaming sessionization over any events frame: merging
    * `session_window(gap)` per user, watermarked for APPEND mode — a
    * session emits exactly once, after the watermark passes its close;
    * state holds only open sessions. This is the continuous form of
    * the batch gap-rule sessionization (B10, `q_sessionize`).
    *
    * Boundary semantics: `session_window` starts a NEW session at
    * inter-event delta ≥ gap, where B10's lag-rule splits at delta >
    * gap — identical answers whenever no delta is EXACTLY the gap
    * (`StreamingSessionSpec` asserts that precondition on its data
    * before asserting equality). */
  def sessionWindowsOf(events: DataFrame, gap: String = "30 minutes",
                       delay: String = "1 minute"): DataFrame =
    events
      .withWatermark("ts_us", delay)
      .groupBy(session_window(col("ts_us"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("user_id"), col("n_events"))

  /** Batch twin (session_window evaluates on batch frames too): the
    * spec proves it equals B10's lag+cumsum rule on the shared data. */
  def sessionWindowsBatch(spark: SparkSession, dir: String): DataFrame =
    sessionWindowsOf(
      Tables.eventsRaw(spark, dir)
        .select(col("user_id"),
          timestamp_micros(expr("ts DIV 1000")).as("ts_us")))
}
