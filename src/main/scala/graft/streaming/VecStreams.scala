package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{SemanticDedup, SimilaritySearch}
import graft.sources.Tables

/** I7: streaming semantic dedup — the continuous form of
  * [[graft.operators.SemanticDedup.semanticDedupIncremental]], mirroring H9's
  * stream-static design in embedding space: vectors arrive as a
  * stream and are flagged against the KEPT members of the existing
  * deduped corpus as they arrive, with ZERO streaming state.
  *
  * The statelessness hinges on how assignment is computed: the one
  * centroid assignment (`SemanticDedup.assignTo`) is a narrow
  * per-row projection — the collected centroid matrix rides the plan
  * as kernel reference fields and each arriving vector argmaxes it in
  * place (max round-9 cosine, NaN loses, ties to the smallest cid) —
  * so it is legal in a stateless append-mode stream at any k, and the
  * stream and the batch form share one plan (`matchesOfBatch`).
  * Then one stream-static equi-join on `cid` against the kept-corpus
  * index + the cosine filter emits `(vec_id, old_id, cos_sim)`
  * matches in append mode. The static side is built ONCE from the
  * deduped corpus (`SemanticDedup.incrementalKeptOld`) and
  * persisted by the caller, exactly like H9's band index.
  */
object VecStreams {

  /** Streaming embeddings: file source with the pinned schema. */
  def readVecs(spark: SparkSession, dir: String): DataFrame = {
    LocalCheckpointFileManager.install(spark)
    spark.readStream.schema(Tables.embeddingsSchema).parquet(dir)
  }

  /** Deterministic spherical-k-means centroids of the corpus — built
    * once, passed to both the index build and the streaming
    * assignment. */
  def corpusCentroids(spark: SparkSession, corpusDir: String,
                      k: Int, iters: Int = 3): DataFrame =
    SimilaritySearch.trainCentroids(
      spark, Tables.embeddings(spark, corpusDir), k, iters)

  /** The kept-corpus cluster index the stream probes: (cid, old_id,
    * old_emb) for members that SURVIVED batch semantic dedup of the
    * corpus. Persist/write once; a hidden cache here would leak (the
    * DocStreams precedent). */
  def keptIndex(spark: SparkSession, corpusDir: String, cents: DataFrame,
                tau: Double): DataFrame =
    SemanticDedup.incrementalKeptOld(
      spark, Tables.embeddings(spark, corpusDir), cents, tau)

  /** Streaming matches: each arriving vector lands in its corpus
    * cluster (narrow, stateless) and joins the kept index on `cid`;
    * pairs above `tau` emit as (vec_id, old_id, cos_sim) — append
    * mode, at-least-once per (vector, kept neighbor), deduplicated
    * downstream like every H9-family emission. */
  def semanticMatches(spark: SparkSession, streamDir: String,
                      cents: DataFrame, keptIdx: DataFrame,
                      tau: Double): DataFrame =
    matchesOfBatch(spark, readVecs(spark, streamDir), cents, keptIdx, tau)

  /** The match pipeline over a frame of vectors, streaming or batch:
    * [[SemanticDedup.assignTo]], the kept-index join on `cid` and the
    * `tau` filter. */
  private[graft] def matchesOfBatch(spark: SparkSession, batch: DataFrame,
                                    cents: DataFrame, keptIdx: DataFrame,
                                    tau: Double): DataFrame =
    SemanticDedup.assignTo(spark, batch, cents)
      .join(keptIdx, Seq("cid"))
      .withColumn("cos_sim",
        round(graft.functions.Vectors.cosineFast(spark,
          col("embedding"), col("old_emb")), 9))
      .where(col("cos_sim") > tau)
      .select(col("vec_id"), col("old_id"), col("cos_sim"))

  /** R4: standing-query streaming ANN — the vector twin of O7's
    * standing BM25: QUERY vectors arrive as a stream and each
    * micro-batch gets its exact IVF top-k against a static prebuilt
    * index (the D7 artifact: assigned corpus + frozen centroid
    * generation). Per-query top-k over the corpus is inherently an
    * aggregation per QUERY — not a per-row projection like O7's
    * scoring — so the production form is `foreachBatch` (aggregation
    * legal per micro-batch), with the usual
    * at-least-once delivery under retries and the batch id for
    * idempotent downstream writes. Emission equality with the batch
    * [[graft.operators.SimilaritySearch.ivfTopKForQueries]] over the same query set is
    * spec-pinned through a real AvailableNow stream. */
  def annTopKForeachBatch(spark: SparkSession, streamDir: String,
                          index: DataFrame, cents: DataFrame,
                          k: Int = 5, nProbe: Int = 2)
                         (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    readVecs(spark, streamDir).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(SimilaritySearch.ivfTopKForQueries(spark,
          batch.select(col("vec_id").as("query_id"),
            col("embedding").as("q_emb")),
          index, cents, k, nProbe), batchId)
      }
}
