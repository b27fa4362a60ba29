package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.Tables

/** H9: streaming incremental dedup — the continuous form of
  * [[graft.operators.Dedup.incrementalDedup]]: documents arrive as a
  * stream (file source standing in for the crawl feed) and are
  * LSH-matched against the STATIC band index of the existing corpus
  * as they arrive.
  *
  * Plan shape per micro-batch: the incoming docs run the narrow
  * signature pipeline (split → native graft_minhash → band explode —
  * all streaming-safe, no state), then a stream-static equi-join on
  * (band, key). Emitted matches are append-mode with NO streaming
  * state at all: one row per colliding (incoming doc, corpus doc,
  * band) — at-least-once per band by design, deduplicated downstream
  * (batch `distinct`, or `dropDuplicatesWithinWatermark` when a
  * bounded-state continuous form is needed).
  *
  * At scale the static side is a PERSISTED band index (computed once
  * by [[graft.operators.Dedup.bandsOf]] over the corpus and bucketed on (band, key)),
  * not recomputed per micro-batch as the file-source test harness
  * does; the join then co-locates on the bucketing and the stream
  * side alone moves.
  */
object DocStreams {

  /** Streaming documents: file source over a directory of parquet
    * files with the pinned schema. */
  def readDocs(spark: SparkSession, dir: String): DataFrame = {
    LocalCheckpointFileManager.install(spark)
    spark.readStream.schema(Tables.documentsSchema).parquet(dir)
  }

  /** Matches of streaming docs against the corpus band index:
    * (doc_id, old_id, band, key) per collision. */
  /** BucketCap-capped (band, key, old_id) index of the existing
    * corpus. Capping uses the batch operators' collect-and-slice rule
    * (smallest doc_ids win) in ONE aggregation — no per-bucket window
    * sort — and bounds the join fan-out a degenerate boilerplate
    * bucket could otherwise cause. At scale this index is WRITTEN once
    * (bucketed on (band, key)) and reused across batches. */
  def corpusBandIndex(spark: SparkSession, corpusDir: String): DataFrame =
    Dedup.bandsOf(spark, Tables.documents(spark, corpusDir))
      .groupBy("band", "key")
      .agg(graft.functions.TopK.minIds(spark, Dedup.BucketCap,
        col("doc_id")).as("ids"))
      .select(col("band"), col("key"), explode(col("ids")).as("old_id"))

  /** Matches of streaming docs against a pre-built corpus band index
    * (pass a persisted/written [[corpusBandIndex]] so micro-batches
    * don't recompute the static side). */
  def incrementalMatches(spark: SparkSession, streamDir: String,
                         corpusIndex: DataFrame): DataFrame =
    Dedup.bandsOf(spark, readDocs(spark, streamDir))
      .join(corpusIndex, Seq("band", "key"))
      .select("doc_id", "old_id", "band", "key")

  /** Convenience form for ad-hoc use: recomputes the corpus index per
    * micro-batch. Long-running queries should build [[corpusBandIndex]]
    * once, `.persist()` (or write it bucketed) and pass it to the
    * DataFrame overload, unpersisting when the query stops — a hidden
    * persist here would pin one cached copy per CALL for the session
    * lifetime with no handle to release it. */
  def incrementalMatches(spark: SparkSession, streamDir: String,
                         corpusDir: String): DataFrame =
    incrementalMatches(spark, streamDir, corpusBandIndex(spark, corpusDir))

  /** X3: the corpus's content-defined chunk index — distinct chunk
    * signatures of the existing corpus ([[graft.operators.Chunking]]
    * X1 grain). At scale this is WRITTEN once (bucketed on sig) and
    * reused across micro-batches, like [[corpusBandIndex]]. */
  def corpusChunkIndex(spark: SparkSession, corpusDir: String): DataFrame =
    graft.operators.Chunking
      .cdcChunks(Tables.documents(spark, corpusDir))
      .select("sig").distinct()

  /** X3: streaming CDC dedup gate — documents arrive as a stream and
    * each emits one row per chunk it SHARES with the existing corpus
    * (stream-static equi-join on the chunk signature; append-mode, no
    * streaming state — H9's shape at X1's chunk grain). The narrow
    * chunking pass (in-array boundaries → one chunk-grain explode) is
    * streaming-safe end to end; downstream aggregates the collisions
    * per doc exactly like the batch X2 report, and the spec pins the
    * set equality against X2's verdicts through a real AvailableNow
    * stream. */
  def cdcMatches(spark: SparkSession, streamDir: String,
                 corpusIndex: DataFrame): DataFrame =
    graft.operators.Chunking.cdcChunks(readDocs(spark, streamDir))
      .join(corpusIndex, Seq("sig"))
      .select("doc_id", "sig", "ctok")

  /** The Y3 corpus fingerprint index — persisted once (fp-bucketed at
    * scale), probed by every arriving batch. */
  def corpusFpIndex(spark: SparkSession, corpusDir: String): DataFrame =
    graft.operators.Winnowing.fpValuesFrom(spark,
        graft.sources.Tables.documents(spark, corpusDir)
          .where(!graft.operators.Winnowing.isWinNew(
            org.apache.spark.sql.functions.col("doc_id"))))
      .select("fp").distinct()

  /** Streaming Y3 gate (the X3 shape at fingerprint grain): arriving
    * docs run the narrow winnowing pass — stateless end to end, both
    * the (pos, fp) dedup and the per-doc VALUE dedup happen IN-ARRAY
    * — and emit one append-mode row per fingerprint value shared with
    * the persisted corpus index; downstream aggregation reproduces
    * the incremental batch form's n_shared exactly (pinned in
    * WinnowingSpec). */
  def winnowMatches(spark: SparkSession, streamDir: String,
                    corpusIndex: DataFrame): DataFrame =
    graft.operators.Winnowing.fpValuesFrom(spark, readDocs(spark, streamDir))
      .join(corpusIndex, Seq("fp"))
      .select("doc_id", "fp")

  /** T3: streaming span-level decontamination — the ingest-time form
    * of [[graft.operators.SpanDedup.spanDecontaminateFrom]]: documents
    * arrive as a stream and each one leaves with its benchmark-
    * colliding spans already cut, before it ever lands in the corpus.
    * The island merge is a per-document windowed computation
    * (window functions are not append-streamable), so the production
    * form is `foreachBatch` (the R4 precedent: legal per
    * micro-batch) running the IDENTICAL batch scrub against the
    * static bench frame — stream and batch cannot diverge by
    * construction, and the spec pins the equality through a real
    * AvailableNow stream anyway. Usual foreachBatch delivery:
    * at-least-once under retries, batch id for idempotent writes.
    *
    * Returns the configured writer; the caller picks trigger /
    * checkpoint and starts it. */
  def spanScrubForeachBatch(spark: SparkSession, streamDir: String,
                            bench: DataFrame)
                           (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // register the native expressions BEFORE the stream starts: the
    // micro-batch engine clones the session at start and the clone
    // inherits the function registry as of that moment — a first
    // registration from inside foreachBatch is too late for the
    // clone's analyzer
    graft.plans.GraftFunctions.register(spark)
    readDocs(spark, streamDir).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(graft.operators.SpanDedup
          .spanDecontaminateFrom(batch.sparkSession, batch, bench), batchId)
      }
  }
}
