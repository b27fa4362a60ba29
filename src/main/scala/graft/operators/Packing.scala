package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Output-shaping operators for a training-data pipeline: packing the
  * curated corpus into fixed-token-budget shards, and drawing exact
  * per-stratum samples.
  *
  * Both are pure window/aggregation plans — no UDFs, no collects —
  * and both carry DuckDB oracle twins.
  */
object Packing {

  /** I1: training-shard packing — "concatenate then chunk" semantics.
    *
    * Documents are laid out in a deterministic global order (md5 of
    * doc_id, then doc_id — the same hash-order used by the sampling
    * and token-budget operators, so shard membership is stable across
    * runs and engines), token counts are prefix-summed, and a doc's
    * shard is the fixed-size token block its START offset falls in:
    * `shard_id = floor(start_off / shardTokens)` — exactly the block
    * an LM data loader concatenating documents in this order would
    * begin reading the doc from. The output is per-shard stats, so
    * result size is `total_tokens / shardTokens` regardless of corpus
    * size.
    *
    * Scale shape (the same two-level prefix-sum used by
    * [[Sampling.tokenBudget]]): a global `ORDER BY h` window would
    * serialize the corpus through ONE task. Instead the first two hex
    * digits of `h` — a PREFIX of the sort key, so bucket order refines
    * global order — split the corpus into 256 ordered buckets:
    *   1. per-bucket token totals (partial agg, one narrow pass),
    *   2. a 256-row window turns them into exclusive bucket offsets,
    *   3. the intra-bucket running sum (window partitioned BY BUCKET,
    *      ~n/256 rows per task) plus the broadcast bucket offset
    *      reconstructs the exact global prefix sum.
    * At 100 TB widen the prefix (3 hex digits = 4096 buckets) to keep
    * per-task windows in memory; the plan shape is unchanged. The
    * shard-stats aggregation shuffles `total_tokens/S` distinct shard
    * ids — map-side partial agg collapses each bucket's rows first.
    */
  def shardPack(spark: SparkSession, dir: String,
                shardTokens: Long = 2000L, salt: String = "shard"): DataFrame =
    shardPackFrom(Tables.documents(spark, dir), shardTokens, salt)

  /** [[shardPack]] over an arbitrary (doc_id, text, ...) frame — the
    * composable form the pipeline funnel feeds with its survivor set
    * (the curateFrom precedent). */
  def shardPackFrom(docs: DataFrame,
                    shardTokens: Long = 2000L, salt: String = "shard"): DataFrame = {
    val wCum = Window.partitionBy("bkt").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // shared machinery with tokenBudget (PrefixSum): hash/bucket
    // columns + a GLOBAL (no part cols) 256-row offsets window,
    // broadcast back. est_tokens is 0 (never NULL) for null text by
    // PrefixSum's contract, so start_off/shard_id can't go NULL.
    PrefixSum.withBucketOffsets(
      PrefixSum.hashedBase(docs, salt), Nil)
      .withColumn("start_off",
        col("offset") + coalesce(sum(col("est_tokens")).over(wCum), lit(0L))
          - col("est_tokens"))
      .select(col("doc_id"), col("est_tokens"),
        floor(col("start_off") / lit(shardTokens.toDouble)).as("shard_id"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("est_tokens").as("shard_tokens"),
        min("doc_id").as("first_doc"))
      .orderBy("shard_id")
  }

  /** DuckDB twin: the semantically-identical SINGLE global window —
    * the two-level form above computes the same prefix sum because the
    * bucket id is a prefix of the sort key. */
  def shardPackSql(shardTokens: Long = 2000L, salt: String = "shard"): String =
    s"""SELECT CAST(floor(start_off / $shardTokens.0) AS BIGINT) AS shard_id,
      |  count(*) AS n_docs,
      |  CAST(sum(est_tokens) AS BIGINT) AS shard_tokens,
      |  min(doc_id) AS first_doc
      |FROM (
      |  SELECT doc_id, est_tokens,
      |    CAST(sum(est_tokens) OVER (ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      - est_tokens AS start_off
      |  FROM (SELECT doc_id,
      |          coalesce(CAST(ceil(length(text) / 4.0) AS BIGINT), 0)
      |            AS est_tokens,
      |          md5(doc_id || ':$salt') AS h
      |        FROM documents) e) c
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** R2: fixed-length training-SEQUENCE packing with document-boundary
    * spans — the loader-facing refinement of I1. An LM trainer does
    * not consume token-budget shards; it consumes sequences of exactly
    * `seqLen` tokens cut from the concatenated corpus, and it needs to
    * know WHERE the document boundaries fall inside each sequence to
    * mask cross-document attention (the packing-without-contamination
    * construction of Krell et al. 2021 and the standard concat-then-
    * chunk pretraining loader). I1 answers "which block does this doc
    * START in"; this answers the loader's actual question: for every
    * (sequence, document) incidence, the within-sequence token span
    * `[tok_start, tok_end)` the document occupies — a doc longer than
    * a sequence spans several rows, a sequence usually holds several
    * docs, and the spans of a sequence tile [0, seqLen) exactly.
    *
    * Same deterministic global hash order and TWO-LEVEL prefix sum as
    * I1 (shared `PrefixSum` machinery — no full-corpus single-task
    * window); the span explode is a codegen'd `sequence()` over the
    * doc's [start, end) block range — pure arithmetic, zero extra
    * shuffle, output size O(docs + sequences). ALL-INTEGER, so both
    * engines agree exactly. */
  val SeqLen = 512L

  def seqPack(spark: SparkSession, dir: String,
              seqLen: Long = SeqLen, salt: String = "seq"): DataFrame =
    seqPackFrom(Tables.documents(spark, dir), seqLen, salt)

  /** `tokenCounter` swaps the chars/4 heuristic for a learned counter
    * (the P1 BPE column) through the shared `PrefixSum` hook — the
    * sequences then measure REAL tokenizer lengths, which is what the
    * trainer's loader actually packs by. */
  def seqPackFrom(docs: DataFrame,
                  seqLen: Long = SeqLen, salt: String = "seq",
                  tokenCounter: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    val wCum = Window.partitionBy("bkt").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    PrefixSum.withBucketOffsets(
      PrefixSum.hashedBase(docs, salt, tokenCounter = tokenCounter), Nil)
      .withColumn("start_off",
        col("offset") + coalesce(sum(col("est_tokens")).over(wCum), lit(0L))
          - col("est_tokens"))
      // empty docs occupy no tokens: no span rows (both engines)
      .where(col("est_tokens") > 0)
      .select(col("doc_id"), col("start_off"), col("est_tokens"),
        explode(sequence(
          expr(s"start_off DIV $seqLen"),
          expr(s"(start_off + est_tokens - 1) DIV $seqLen"))).as("seq_id"))
      .select(col("seq_id"), col("doc_id"),
        greatest(col("start_off") - col("seq_id") * seqLen, lit(0L))
          .as("tok_start"),
        least(col("start_off") + col("est_tokens") - col("seq_id") * seqLen,
          lit(seqLen)).as("tok_end"))
      .orderBy("seq_id", "doc_id")
  }

  /** DuckDB twin — single global window (equal to the two-level form
    * because the bucket id is a prefix of the sort key) + inclusive
    * `generate_series` matching Spark's `sequence`. */
  def seqPackSql(seqLen: Long = SeqLen, salt: String = "seq"): String =
    s"""WITH e AS (
      |  SELECT doc_id,
      |    coalesce(CAST(ceil(length(text) / 4.0) AS BIGINT), 0) AS est_tokens,
      |    md5(doc_id || ':$salt') AS h
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, est_tokens,
      |    CAST(sum(est_tokens) OVER (ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      - est_tokens AS start_off
      |  FROM e),
      |s AS (
      |  SELECT doc_id, start_off, est_tokens,
      |    unnest(generate_series(start_off // $seqLen,
      |      (start_off + est_tokens - 1) // $seqLen)) AS seq_id
      |  FROM c WHERE est_tokens > 0)
      |SELECT seq_id, doc_id,
      |  CAST(greatest(start_off - seq_id * $seqLen, 0) AS BIGINT) AS tok_start,
      |  CAST(least(start_off + est_tokens - seq_id * $seqLen, $seqLen)
      |    AS BIGINT) AS tok_end
      |FROM s ORDER BY seq_id, doc_id""".stripMargin

  /** I2: stratified exact-quota sampling — exactly `quota` docs per
    * source (fewer only when a source is smaller than the quota),
    * chosen by deterministic hash rank so the sample is reproducible
    * and engine-independent, unlike `TABLESAMPLE`/`rand()`.
    *
    * Complements [[Sampling.hashSample]] (rate-based, no shuffle) and
    * [[Sampling.mixResample]] (rate-derived): quota sampling is what a
    * fixed-size eval/holdout split needs.
    *
    * Scale: rank-within-group over a hash order. Spark rewrites the
    * `row_number <= k` filter into a WindowGroupLimit: each map task
    * keeps only its local top-k PER SOURCE before the shuffle, so the
    * exchange moves O(sources × quota × tasks) rows, not the corpus
    * (PlanSpec pins the rewrite). Skewed sources are bounded the same
    * way — a 10¹⁰-row source still ships only top-k per task. */
  def stratifiedSample(spark: SparkSession, dir: String,
                       quota: Int = 25, salt: String = "strat"): DataFrame = {
    val rk = row_number().over(
      Window.partitionBy("source")
        .orderBy(md5(concat(col("doc_id").cast("string"), lit(":" + salt))),
          col("doc_id")))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("rk", rk)
      .where(col("rk") <= quota)
      .orderBy("doc_id")
  }

  def stratifiedSampleSql(quota: Int = 25, salt: String = "strat"): String =
    s"""SELECT doc_id, source, rk FROM (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(doc_id || ':$salt'), doc_id) AS rk
      |  FROM documents) t
      |WHERE rk <= $quota
      |ORDER BY doc_id""".stripMargin
}
