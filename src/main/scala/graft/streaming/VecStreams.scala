package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{SemanticDedup, SimilaritySearch}
import graft.sources.Tables

/** I7: streaming semantic dedup — the continuous form of
  * [[SemanticDedup.semanticDedupIncremental]], mirroring H9's
  * stream-static design in embedding space: vectors arrive as a
  * stream and are flagged against the KEPT members of the existing
  * deduped corpus as they arrive, with ZERO streaming state.
  *
  * The statelessness hinges on how assignment is computed: the batch
  * argmax (broadcast join + `groupBy(vec_id).agg(max(struct))`) is an
  * AGGREGATION — on a stream that means update-mode state. Instead
  * the centroid table rides the plan as a literal struct array (k·d
  * doubles) and each arriving vector argmaxes it in ONE narrow
  * projection (`array_sort(transform(...))[1]`, ties to the smallest
  * cid — the same rule as the batch form). Then one stream-static
  * equi-join on `cid` against the kept-corpus index + the cosine
  * filter emits `(vec_id, old_id, cos_sim)` matches in append mode.
  *
  * Scale bounds, stated honestly: the literal-array trick carries to
  * k in the low thousands (expression-tree size); beyond that,
  * [[semanticMatchesForeachBatch]] runs the same pipeline inside
  * `foreachBatch`, where the batch argmax (broadcast + aggregation)
  * is legal per micro-batch — the join and index shapes are
  * identical, so the two paths emit the same matches
  * (StreamingSemanticSpec asserts it). The static side is built ONCE
  * from the deduped corpus ([[SemanticDedup.incrementalKeptOld]]) and
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

  /** Per-row stateless argmax over a collected centroid table — the
    * SHARED literal-centroid scorer ([[SemanticDedup.literalTopCentroids]],
    * also the batch probe path's router), so the stream's rounding and
    * tie rules can never drift from the batch argmax it mirrors. */
  private def nearestCidCol(spark: SparkSession, cents: DataFrame,
                            emb: Column): Column =
    element_at(SemanticDedup.literalTopCentroids(spark, cents, emb, 1), 1)

  /** Streaming matches: each arriving vector lands in its corpus
    * cluster (narrow, stateless) and joins the kept index on `cid`;
    * pairs above `tau` emit as (vec_id, old_id, cos_sim) — append
    * mode, at-least-once per (vector, kept neighbor), deduplicated
    * downstream like every H9-family emission. */
  def semanticMatches(spark: SparkSession, streamDir: String,
                      cents: DataFrame, keptIdx: DataFrame,
                      tau: Double): DataFrame = {
    val stream = readVecs(spark, streamDir)
      .withColumn("cid", nearestCidCol(spark, cents, col("embedding")))
    stream.join(keptIdx, Seq("cid"))
      .withColumn("cos_sim",
        round(graft.functions.Vectors.cosineFast(spark,
          col("embedding"), col("old_emb")), 9))
      .where(col("cos_sim") > tau)
      .select(col("vec_id"), col("old_id"), col("cos_sim"))
  }

  /** One micro-batch of the large-k pipeline: the BATCH argmax
    * ([[SemanticDedup.assignTo]] — broadcast centroids + max-struct
    * aggregation, which shares [[SemanticDedup.literalTopCentroids]]'s
    * rounding and tie rules, so the two streaming paths cannot drift)
    * followed by the same kept-index join and `tau` filter as
    * [[semanticMatches]]. Package-visible so the spec can assert
    * batch-vs-literal emission equality directly. */
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

  /** I7's LARGE-k regime (the production path at autoK beyond the
    * literal-expression bound — 10⁷ vectors means k ≈ 80,000, far
    * past what an in-plan literal centroid array can carry): the same
    * stream with the per-batch match pipeline run inside
    * `foreachBatch`, where aggregation is legal per micro-batch. The
    * emission set is identical to [[semanticMatches]] by construction
    * — same centroid table, same rounding/tie rules, same join — and
    * the spec asserts it on the fixture. Delivery is the usual
    * foreachBatch contract: at-least-once per (vector, kept neighbor)
    * under retries; `sink` receives each batch's matches plus the
    * batch id for idempotent downstream writes.
    *
    * Returns the configured writer; the caller picks trigger /
    * checkpoint and starts it (the SseSink precedent). */
  def semanticMatchesForeachBatch(spark: SparkSession, streamDir: String,
                                  cents: DataFrame, keptIdx: DataFrame,
                                  tau: Double)
                                 (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    readVecs(spark, streamDir).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(matchesOfBatch(spark, batch, cents, keptIdx, tau), batchId)
      }

  /** R4: standing-query streaming ANN — the vector twin of O7's
    * standing BM25: QUERY vectors arrive as a stream and each
    * micro-batch gets its exact IVF top-k against a static prebuilt
    * index (the D7 artifact: assigned corpus + frozen centroid
    * generation). Per-query top-k over the corpus is inherently an
    * aggregation per QUERY — not a per-row projection like O7's
    * scoring — so the production form is `foreachBatch` (aggregation
    * legal per micro-batch; the I7 large-k precedent), with the usual
    * at-least-once delivery under retries and the batch id for
    * idempotent downstream writes. Emission equality with the batch
    * [[SimilaritySearch.ivfTopKForQueries]] over the same query set is
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
