package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TopK, Vectors}
import graft.plans.BitPack
import graft.sources.Tables

/** Z1: binary-quantized ANN — the 1-bit compression rung below D4's
  * int8 (4 B/dim → 1 b/dim) and beside D5's PQ codes: each vector is
  * stored as its sign bits ([[graft.plans.BitPack]], two 32-bit words
  * for 64 dims = 32× smaller than float32), candidates are shortlisted
  * by HAMMING distance over the packed words — pure xor+popcount, the
  * cheapest similarity scan that exists — and only the shortlist is
  * rescored against the exact floats (the D4/D5 rescore contract).
  * This is the published "binary quantization + rescoring" serving
  * shape of production vector stores, and its geometry guarantee is
  * Charikar (STOC 2002) with coordinate hyperplanes: for unit vectors,
  * E[hamming]/bits = angle/π, so hamming rank tracks cosine rank well
  * enough for a ~4·K shortlist to recover the true top-K.
  *
  * Cross-engine exactness: the shortlist stage is INTEGER end-to-end —
  * sign packing is exact (a float `> 0` decision), hamming is
  * xor+popcount — so unlike every float ANN rung there is no round-9
  * guard anywhere before the final rescore; ties break on vec_id
  * ascending in both engines.
  *
  * Scale shape: packing is one narrow codegen'd pass (N rows); the
  * hamming scan touches every vector (like D1) but reads 8 B/vector
  * and runs two-stage bounded [[graft.functions.TopK]] partial aggregation, so only
  * ShortM·P rows per query cross the shuffle; the rescore reads
  * ShortM·|queries| float rows. At 100 TB the packed words column is
  * what a deployment persists (3 TB instead of 100), and the scan
  * composes with IVF bucketing (D2/D3) exactly as D4 does. */
object BinaryAnn {

  /** Shortlist size. 1-bit codes need a much deeper rescore oversample
    * than int8/PQ (production binary-quantization defaults run 10-20×K):
    * within a tight cluster every member shares nearly all sign bits,
    * so hamming cannot RANK near-ties — it can only EXCLUDE far
    * vectors — and the shortlist must be wide enough to swallow the
    * whole near-tie population (measured: at 4·K the clustered-fixture
    * recall@5 was 0.425; at this 12.8·K it clears the 0.9 gate). */
  val ShortM = 64

  /** Integer hamming distance between two packed-word array columns
    * (named by `words`/`qWords`) — Σ_w popcount(xor), plain codegen'd
    * built-ins. Shared by the flat scan and the IVF-composed form. */
  private[graft] def hammingOf(words: String, qWords: String): org.apache.spark.sql.Column =
    (0 until BitPack.Words)
      .map(w => expr(s"bit_count(element_at($words, ${w + 1}) " +
        s"^ element_at($qWords, ${w + 1}))").cast("long"))
      .reduce(_ + _)

  /** SQL for packed word `w` over an embedding column: the explicit
    * Σ 2^j · (emb[i] > 0) literal chain, integer-exact and matching
    * [[graft.plans.BitPack]] bit for bit. */
  private[operators] def wordSql(w: Int, emb: String = "embedding"): String =
    (0 until BitPack.WordBits)
      .map { j =>
        val i = w * BitPack.WordBits + j + 1 // 1-based list index
        s"(CASE WHEN $emb[$i] > 0 THEN ${1L << j} ELSE 0 END)"
      }
      .mkString("(", " + ", ")")

  /** SQL hamming over per-word columns `<q>.w_i` vs `<p>.w_i`. */
  private[operators] def hamSql(q: String, p: String): String =
    (0 until BitPack.Words)
      .map(w => s"bit_count(xor(CAST($q.w_$w AS BIGINT), CAST($p.w_$w AS BIGINT)))")
      .mkString(" + ")

  def bqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val packed = emb.select(col("vec_id"),
      Vectors.bitpackFast(spark, col("embedding")).as("words"))
    val queries = broadcast(packed
      .where(col("vec_id") < SimilaritySearch.NQueries)
      .select(col("vec_id").as("query_id"), col("words").as("q_words")))
    val ham = hammingOf("words", "q_words")
    val cands = packed.join(queries, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        // TopK ranks (round-9 DESC, id ASC); negated integer hamming
        // makes that (hamming ASC, id ASC) with no rounding in play
        (-ham).cast("double").as("score"))
      .groupBy("query_id")
      .agg(TopK.topk(spark, ShortM, col("vec_id"), col("score")).as("hits"))
      .select(col("query_id"), explode(col("hits")).as("h"))
      .select(col("query_id"), col("h.id").as("vec_id"))
    SimilaritySearch.exactRescore(spark, emb, cands)
  }

  /** Persist the packed-words index — (vec_id, words), 8 B of sign
    * bits per vector, the artifact a deployment scans instead of the
    * float column (32× fewer bytes). Rebuilt at index-maintenance
    * cadence, like [[SimilaritySearch.writeIvfIndex]]. */
  def writeBqIndex(spark: SparkSession, dir: String, outDir: String): Unit =
    Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .select(col("vec_id"),
        Vectors.bitpackFast(spark, col("embedding")).as("words"))
      .write.mode("overwrite").parquet(s"$outDir/bq.parquet")

  /** Z1's serving form: the hamming scan reads ONLY the prebuilt
    * packed index; floats are touched just for the ShortM·|queries|
    * rescore rows. Row-equal to [[bqTopK]] by construction (pinned in
    * BqAnnSpec) — the packing is deterministic, so index and inline
    * words are bit-identical. */
  def bqTopKFromIndex(spark: SparkSession, dir: String,
                      indexDir: String): DataFrame = {
    val packed = spark.read.parquet(s"$indexDir/bq.parquet")
    val queries = broadcast(packed
      .where(col("vec_id") < SimilaritySearch.NQueries)
      .select(col("vec_id").as("query_id"), col("words").as("q_words")))
    val ham = hammingOf("words", "q_words")
    val cands = packed.join(queries, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (-ham).cast("double").as("score"))
      .groupBy("query_id")
      .agg(TopK.topk(spark, ShortM, col("vec_id"), col("score")).as("hits"))
      .select(col("query_id"), explode(col("hits")).as("h"))
      .select(col("query_id"), col("h.id").as("vec_id"))
    SimilaritySearch.exactRescore(spark,
      Tables.embeddings(spark, dir).select("vec_id", "embedding"), cands)
  }

  /** DuckDB twin: each packed word restated as the explicit
    * Σ 2^j · (emb[i] > 0) literal chain (integer-exact, matching
    * [[graft.plans.BitPack]] bit for bit), hamming via
    * bit_count(xor()), shortlist by (hamming ASC, vec_id), then the
    * shared exact-rescore tail. */
  def bqTopKSql: String = {
    val wordCols = (0 until BitPack.Words)
      .map(w => s"${wordSql(w)} AS w_$w").mkString(",\n      |    ")
    val ham = hamSql("q", "p")
    s"""WITH pk AS (
      |  SELECT vec_id,
      |    $wordCols
      |  FROM embeddings),
      |short AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT q.vec_id AS query_id, p.vec_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY ($ham) ASC, p.vec_id) AS rk
      |    FROM pk q JOIN pk p ON p.vec_id <> q.vec_id
      |    WHERE q.vec_id < ${SimilaritySearch.NQueries}) s
      |  WHERE rk <= $ShortM)
      |${SimilaritySearch.rescoreSql}""".stripMargin
  }
}
