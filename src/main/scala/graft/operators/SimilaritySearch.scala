package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TopK, Vectors}
import graft.operators.OracleModelCache.{centValuesSql, centsDf, fmtD}
import graft.sources.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (D1-D2).
  *
  * Rank/argmax decisions order by round(cos, 9) with a vec_id/label
  * tiebreak so ~1e-15 double-summation-order differences between
  * engines can never flip a rank at a boundary.
  */
object SimilaritySearch {

  private[operators] val K = 5
  private[operators] val NQueries = 8
  private val NProbe = 2

  private def scoredAgainstQueries(spark: SparkSession, dir: String): DataFrame =
    scoredAgainstQueriesFrom(spark,
      Tables.embeddings(spark, dir).select("vec_id", "embedding"))

  private[operators] def scoredAgainstQueriesFrom(
      spark: SparkSession, emb: DataFrame): DataFrame = {
    val q = broadcast(emb.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    emb.join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        Vectors.cosineFast(spark, col("q_emb"), col("embedding")).as("cos_sim"))
  }

  /** Expand a `hits` array of top-k (id, sim) structs into ranked rows. */
  private def explodeRanked(df: DataFrame): DataFrame =
    df.select(col("query_id"), posexplode(col("hits")).as(Seq("i", "h")))
      .select(col("query_id"), (col("i") + 1).cast("int").as("rank"),
        col("h.id").as("vec_id"), col("h.sim").as("cos_sim"))
      .orderBy("query_id", "rank")

  // ---------------------------------------------------------------- D1
  /** Brute-force exact cosine top-k via the bounded TopK Aggregator
    * ([[graft.functions.TopK]]): queries are broadcast, scoring is
    * map-side, and the PARTIAL aggregation already reduces every
    * partition to ≤k rows per query — only k·P rows cross the shuffle;
    * the scored table never does. */
  def bruteTopK(spark: SparkSession, dir: String): DataFrame =
    explodeRanked(
      scoredAgainstQueries(spark, dir)
        .groupBy("query_id")
        .agg(TopK.topk(spark, K, col("vec_id"), col("cos_sim")).as("hits")))

  val bruteTopKSql: String =
    s"""SELECT query_id, rank, vec_id, cos_sim FROM (
      |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
      |    ${Vectors.cosineSql("q.embedding", "e.embedding")} AS cos_sim,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY round(${Vectors.cosineSql("q.embedding", "e.embedding")}, 9) DESC,
      |               e.vec_id) AS rank
      |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
      |  WHERE q.vec_id < $NQueries) t
      |WHERE rank <= $K
      |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- U4
  /** Hard-negative band: a candidate is a HARD negative when it is
    * similar enough to confuse a contrastive model but below the C5
    * near-duplicate bar (0.35 on this corpus — at/above it the
    * "negative" is plausibly a positive, the false-negative poison
    * ANCE/DPR-style mining must exclude). */
  val HardNegHi = 0.35
  val HardNegLo = 0.15

  /** U4: hard-negative mining for contrastive training — per query
    * vector, the top-k most-similar corpus vectors INSIDE the
    * [lo, hi) similarity band: the ANCE/DPR recipe (negatives come
    * from dense retrieval, with a ceiling so near-duplicates of the
    * positive never become "negatives"). Output feeds a contrastive
    * batch builder directly.
    *
    * Scale shape: identical to D1 — queries broadcast, scoring +
    * band filter map-side, and the bounded TopK Aggregator's PARTIAL
    * pass reduces every partition to ≤k rows per query before the
    * only shuffle. Band boundaries compare round(cos, 9) so an
    * engine-order ulp can never flip membership. At real scale the
    * scoring pass swaps for the D2/D3 IVF probe unchanged — the band
    * filter and TopK compose the same way. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    hardNegativesFrom(spark,
      Tables.embeddings(spark, dir).select("vec_id", "embedding"))

  def hardNegativesFrom(spark: SparkSession, emb: DataFrame): DataFrame =
    explodeRanked(
      scoredAgainstQueriesFrom(spark, emb)
        .where(round(col("cos_sim"), 9) < HardNegHi &&
          round(col("cos_sim"), 9) >= HardNegLo)
        .groupBy("query_id")
        .agg(TopK.topk(spark, K, col("vec_id"), col("cos_sim")).as("hits")))

  val hardNegativesSql: String =
    s"""SELECT query_id, rank, vec_id, cos_sim FROM (
      |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
      |    ${Vectors.cosineSql("q.embedding", "e.embedding")} AS cos_sim,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY round(${Vectors.cosineSql("q.embedding", "e.embedding")}, 9) DESC,
      |               e.vec_id) AS rank
      |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
      |  WHERE q.vec_id < $NQueries
      |    AND round(${Vectors.cosineSql("q.embedding", "e.embedding")}, 9) < $HardNegHi
      |    AND round(${Vectors.cosineSql("q.embedding", "e.embedding")}, 9) >= $HardNegLo) t
      |WHERE rank <= $K
      |ORDER BY query_id, rank""".stripMargin

  /** IVF search body, generic over the coarse-centroid table `cents`
    * (`cid`, `c_emb`): every vector is assigned to its nearest
    * centroid; a query probes only its NProbe nearest centroids'
    * buckets, touching ~NProbe/C of the corpus. One bounded collect
    * ([[SemanticDedup.collectCentroids]]) feeds both the corpus
    * assignment and the query probes, each one NARROW kernel
    * projection — no shuffle and no aggregation on the corpus side.
    * Rule: max round-9 cosine, NaN loses, ties to the smallest cid
    * ([[graft.plans.CentOps]]; CentScoreSpec and IvfNaNProbeSpec pin
    * it). */
  private def ivfSearchOn(spark: SparkSession, emb: DataFrame,
                          cents: DataFrame): DataFrame = {
    val centRows = SemanticDedup.collectCentroids(cents).toIndexedSeq
    val assign = SemanticDedup
      .assignToLiteral(spark, emb.select("vec_id", "embedding"), centRows)
      .select(col("vec_id"), col("embedding"), col("cid"))
    val probes = emb.select("vec_id", "embedding")
      .where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        explode(SemanticDedup.literalTopCentroids(spark, centRows,
          col("embedding"), NProbe)).as("cid"))
    explodeRanked(
      // the probe side is NQueries·NProbe rows at any corpus size —
      // broadcast it so the n-row assignment never shuffles on cid
      broadcast(probes).join(assign, Seq("cid"))
        .where(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          Vectors.cosineFast(spark, col("q_emb"), col("embedding")).as("cos_sim"))
        .groupBy("query_id")
        .agg(TopK.topk(spark, K, col("vec_id"), col("cos_sim")).as("hits")))
  }

  // ---------------------------------------------------------------- D2
  /** IVF-style ANN with labeled centroids (per-label means —
    * deterministic and SQL-expressible, so this variant carries the
    * DuckDB oracle; [[ivfTopKTrained]] is the unsupervised path real
    * corpora need). The per-dimension mean is a (label, pos) partial
    * aggregation — fully distributed, no collect. */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos").agg(avg(col("v").cast("double")).as("c"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)").as("c_emb"))
      .select(col("label").as("cid"), col("c_emb"))
    ivfSearchOn(spark, emb, cents)
  }

  // ------------------------------------------------------- D2 (trained)
  /** Unsupervised coarse-centroid training — the path real corpora
    * need (no `label` column): deterministic k-means with scalable
    * seeding, entirely in DataFrames, no `.collect()`.
    *
    * 1. **Oversample** `8·k` candidates by md5(vec_id) order — a
    *    TakeOrdered over one full pass; hash order is a uniform
    *    "random" sample that is identical across runs and engines. The
    *    sample is COLLECTED: 8·k rows × d floats is driver-trivial at
    *    any corpus size (k=256, d=64 → 0.5 MB), the k-means‖ pattern
    *    of reclustering a bounded oversample locally.
    * 2. **Farthest-point selection** (Gonzalez' 2-approx k-center — the
    *    deterministic argmax form of k-means++ seeding) down to `k`
    *    seeds, run as a driver-local loop over the tiny sample. This
    *    used to be k-1 serial Spark jobs; on a loaded host the
    *    per-job scheduling latency dominated the whole query, so the
    *    O(k²·8k·d) float work moved to where it takes microseconds.
    *    Spread seeds can't collapse onto one dense cluster the way a
    *    uniform k-sample can (with 4 clusters and k=4 a uniform sample
    *    covers all clusters only ~9% of the time).
    * 3. **Lloyd's rounds** over the full corpus: assignment is
    *    [[SemanticDedup.assignTo]]'s narrow kernel argmax over the
    *    collected centroids (k rows); the new means are a (cid, pos)
    *    partial aggregation. Each round is one pass, and lineage stays
    *    flat because the next round reads collected centroid values.
    *    Cosine is scale-invariant in the centroid, so the un-normalized
    *    mean is a valid spherical-k-means update.
    *
    * Total corpus passes: 1 (sample) + `iters` (Lloyd's); total Spark
    * jobs: 1 + iters, independent of k. A cluster that loses all
    * members drops out (k shrinks) rather than being re-seeded —
    * acceptable for ANN bucketing, where fewer, fuller buckets only
    * increase recall. */
  /** The deterministic hash-ordered bounded sample (smallest `m` by
    * md5 of vec_id; TakeOrdered keeps the order in the result).
    * Single source of truth for every sampling-determinism contract:
    * the trainer's seed set AND SemanticDedup's probe-path training
    * sample use THIS — the "8k smallest md5 of the 32k smallest are
    * the global 8k smallest" nesting property holds only while both
    * share one expression. */
  private[graft] def hashOrderedSample(emb: DataFrame, m: Int): DataFrame =
    emb.select(col("vec_id"), col("embedding"))
      .orderBy(md5(col("vec_id").cast("string"))).limit(m)

  def trainCentroids(spark: SparkSession, emb: DataFrame, k: Int,
                     iters: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k <= SemanticDedup.MaxClusters,
      s"k=$k exceeds MaxClusters = ${SemanticDedup.MaxClusters}")

    // one corpus pass
    val cands: Array[(Long, Array[Float])] =
      hashOrderedSample(emb, 8 * k)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

    // Driver-local cosine, same arithmetic as graft_cosine
    // (CosineSimilarity.nullSafeEval: sequential double accumulation,
    // 0/0 → NaN) and the same round(_, 9) HALF_UP (CentOps.round9) the
    // DataFrame seeding used, so seed choice is unchanged.
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    import graft.plans.CentOps.round9

    val chosen = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    if (cands.nonEmpty) {
      chosen += cands.head // first seed: smallest md5, as before
      // per-candidate running max cosine to the chosen seeds — each
      // round compares only against the seed added LAST round, which
      // is bit-identical to rescoring all seeds (max over rounded
      // values is order-insensitive) and k× cheaper.
      // java.lang.Double.compare places NaN greatest, matching Spark's
      // double ordering in the old max()/orderBy form.
      val near = Array.fill(cands.length)(Double.NegativeInfinity)
      val taken = Array.fill(cands.length)(false)
      taken(0) = true
      val rounds = math.min(k, cands.length)
      // Above ~16M (candidate × round) ops the single-threaded loop is
      // a measured wall (the organic 1000× probe: autoK = 16k, 128k
      // candidates → 2·10⁹ round9(cos) on ONE core, hours) — so large
      // seedings fan the per-round scan across a fixed pool. Bit-
      // identical by construction: each index's near() is touched by
      // exactly one task per round, the per-chunk winner uses the same
      // (near asc, vec_id asc) total order, and the cross-chunk merge
      // is an argmin under that order (merge order immaterial; main
      // thread's submit/get gives the round-to-round happens-before).
      val parThreads = {
        val work = cands.length.toLong * rounds
        if (work < (1L << 24)) 1
        else math.min(Runtime.getRuntime.availableProcessors(), 32)
      }
      val pool = if (parThreads > 1)
        java.util.concurrent.Executors.newFixedThreadPool(parThreads) else null
      def betterThan(i: Int, best: Int): Boolean =
        best < 0 ||
          java.lang.Double.compare(near(i), near(best)) < 0 ||
          (java.lang.Double.compare(near(i), near(best)) == 0 &&
            cands(i)._1 < cands(best)._1)
      def scanChunk(lo: Int, hi: Int, latest: Array[Float]): Int = {
        var best = -1
        var i = lo
        while (i < hi) {
          if (!taken(i)) {
            val c = round9(cos(cands(i)._2, latest))
            if (java.lang.Double.compare(c, near(i)) > 0) near(i) = c
            if (betterThan(i, best)) best = i
          }
          i += 1
        }
        best
      }
      try {
        while (chosen.size < rounds) {
          val (_, latest) = chosen.last
          var bestIdx = -1
          if (parThreads == 1) bestIdx = scanChunk(0, cands.length, latest)
          else {
            val chunk = (cands.length + parThreads - 1) / parThreads
            val futs = (0 until parThreads).map { t =>
              pool.submit(new java.util.concurrent.Callable[Int] {
                def call(): Int = scanChunk(t * chunk,
                  math.min((t + 1) * chunk, cands.length), latest)
              })
            }
            futs.foreach { f =>
              val b = f.get()
              if (b >= 0 && betterThan(b, bestIdx)) bestIdx = b
            }
          }
          taken(bestIdx) = true
          chosen += cands(bestIdx)
        }
      } finally if (pool != null) pool.shutdown()
    }
    // cid by seed vec_id order, exactly the old row_number(Window) rule
    val seedRows = chosen.sortBy(_._1).zipWithIndex
      .map { case ((_, e), i) => (i, e.toSeq) }.toSeq
    var cents = spark.createDataFrame(seedRows).toDF("cid", "c_emb")
      .select(col("cid"), col("c_emb").cast("array<float>").as("c_emb"))

    // Each Lloyd round assigns through SemanticDedup.assignTo: the
    // round's centroids are collected once and the argmax is ONE
    // narrow kernel projection — no n·k shuffle, no n-row
    // embedding-restore join, and no per-round localCheckpoint (the
    // next round's plan references collected centroid VALUES, not the
    // previous round's frame, so lineage stays flat). Measured at
    // sf0.1: each Lloyd round runs ~3 AQE-stage jobs.
    for (_ <- 1 to iters) {
      val assigned = SemanticDedup.assignTo(spark, emb, cents)
        .select(col("embedding"), col("cid"))
      cents = assigned
        .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cid", "pos").agg(avg(col("v").cast("double")).as("c"))
        .groupBy("cid")
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)").as("c_emb"))
    }
    // the returned frame keeps the historical "already materialized"
    // contract — several consumers read it more than once
    // (assignViaIvf collects the fine table and trains its coarse
    // quantizer over it; VecStreams' per-batch centroids)
    cents.localCheckpoint()
  }

  /** Default centroid count for the [[ivfTopKTrained]] query form. */
  private[operators] val TrainedK = 10

  /** Frozen D3 artifact for the oracle (the P1/P2 convention): the
    * run's trained centroids, collected (k rows × d doubles — bounded
    * at any corpus size) so the oracle SQL can embed them as a VALUES
    * literal. [[OracleModelCache.model]] ALWAYS retrains, so a bench
    * rep still pays full training cost and the oracle embeds exactly
    * the centroids of the run it is compared against. */
  private val ivfCentCache = new OracleModelCache[Array[(Int, Array[Double])]](
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      trainCentroids(spark, emb.select("vec_id", "embedding"), TrainedK)
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
    })

  private def dArrSql(a: Seq[Double]): String =
    a.map(fmtD).mkString("[", ", ", "]")

  /** IVF ANN over UNLABELED embeddings: [[trainCentroids]] +
    * `ivfSearchOn`. The iterative training itself is not
    * SQL-expressible, but its frozen RESULT is: the run's centroids
    * ride [[ivfTopKTrainedSql]] as a VALUES literal (via
    * `ivfCentCache`), putting assignment + probe + top-k — and,
    * through the literal, the training — under the DuckDB hash gate.
    * Recall stays gated by AnnRecallSpec's clustered fixture, which
    * never touches `label` (that path trains with a non-default k and
    * bypasses the cache). */
  def ivfTopKTrained(spark: SparkSession, dir: String, k: Int = TrainedK): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents =
      if (k == TrainedK) centsDf(spark, ivfCentCache.model(spark, dir))
      else trainCentroids(spark, emb.select("vec_id", "embedding"), k)
    ivfSearchOn(spark, emb, cents)
  }

  /** DuckDB twin of [[ivfTopKTrained]]: the trained centroids as a
    * VALUES literal, then the `ivfSearchOn` semantics restated —
    * nearest-centroid assignment (round-9 desc, ties to the smallest
    * cid), NProbe probes per query, exact cosine + round-9/vec_id rank
    * inside the probed buckets. A `def`: Verify dumps oracle SQL after
    * the queries run, so the literal is the exact last-run model. */
  def ivfTopKTrainedSql: String = {
    val rows = centValuesSql(ivfCentCache.oracleModel())
    s"""WITH cents(cid, c_emb) AS (VALUES
      |    $rows),
      |cscore AS (
      |  SELECT e.vec_id, e.embedding, c.cid,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.c_emb), 9) DESC,
      |               c.cid) AS rk
      |  FROM embeddings e, cents c),
      |assign AS (SELECT vec_id, embedding, cid FROM cscore WHERE rk = 1),
      |probes AS (SELECT vec_id AS query_id, embedding AS q_emb, cid
      |           FROM cscore WHERE vec_id < $NQueries AND rk <= $NProbe)
      |SELECT query_id, rank, vec_id, cos_sim FROM (
      |  SELECT p.query_id, a.vec_id,
      |    ${Vectors.cosineSql("p.q_emb", "a.embedding")} AS cos_sim,
      |    row_number() OVER (PARTITION BY p.query_id
      |      ORDER BY round(${Vectors.cosineSql("p.q_emb", "a.embedding")}, 9) DESC,
      |               a.vec_id) AS rank
      |  FROM probes p JOIN assign a ON p.cid = a.cid AND a.vec_id <> p.query_id) t
      |WHERE rank <= $K
      |ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- V3
  /** Fraction of each cluster pruned as "too prototypical" — the
    * abundant-data regime of Sorscher et al. 2022, where the EASY
    * (centroid-like) examples carry the least marginal signal. */
  val ProtoPruneFrac = 0.2
  /** Hash-sample share (of 65536 buckets) pricing the per-cluster cut
    * point — the S2 convention. The bar is THE scale knob: at corpus
    * scale it is set so each cluster's sample stays
    * window-over-bounded-rows small; the cut quality degrades only
    * as 1/√sample. */
  val ProtoSampleBar = 16384
  private val protoSalt = "proto"

  /** Prototypicality pruning (Sorscher et al. 2022 "Beyond neural
    * scaling laws"; the pruning half of D4, Tirumala et al. 2023 —
    * whose dedup half is I4's SemDeDup): assign every vector to its
    * nearest trained centroid (D3's frozen artifact — ONE trainer
    * feeds both queries), score prototypicality as the round-9 cosine
    * to that centroid, and mark the most-prototypical
    * [[ProtoPruneFrac]] of each cluster for pruning. The cut is the
    * exact ⌈n·frac⌉-th largest sampled score per cluster (S2's
    * order-statistic device), broadcast back as a map-side threshold;
    * ties at the cut are kept. A cluster absent from the sample prunes
    * nothing (honest default, keep=true).
    *
    * Determinism: assignment is [[SemanticDedup.assignTo]]'s kernel
    * (max round-9 cosine, NaN loses, ties to the smallest cid) and the
    * prototypicality score is the winner's round-9 cosine, its
    * `cent_sim`. A degenerate (all-zero) centroid scores NaN against
    * every row and is never the winner, so it neither captures rows
    * nor turns their scores to NaN. No corpus vector is zero (the
    * documented D3 invariant), so no row scores −2.0 and the DuckDB
    * twin's row_number assignment agrees. */
  def protoPrune(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    protoPruneOn(spark, emb, centsDf(spark, ivfCentCache.model(spark, dir)))
  }

  private[graft] def protoPruneOn(spark: SparkSession, emb: DataFrame,
                                  cents: DataFrame): DataFrame = {
    // slim (vec_id, cid, proto9) frame, two consumers (sample + final);
    // materialized once: measured faster than scanning and scoring the
    // sample again (BASELINE.md "One centroid scorer")
    val assigned = SemanticDedup.assignTo(spark, emb, cents)
      .select(col("vec_id"), col("cid"), col("cent_sim").as("proto9"))
      .localCheckpoint()
    val samp = assigned.where(
      Sampling.hashBucket(col("vec_id"), protoSalt) < ProtoSampleBar)
    val wRank = Window.partitionBy("cid")
      .orderBy(col("proto9").desc, col("vec_id"))
    val wN = Window.partitionBy("cid")
    val cuts = samp.withColumn("rk", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wN))
      .groupBy("cid")
      .agg(max(when(
        col("rk") === ceil(col("n") * ProtoPruneFrac).cast("long"),
        col("proto9"))).as("cut"))
    assigned.join(broadcast(cuts), Seq("cid"), "left")
      .select(col("vec_id"), col("cid"),
        round(col("proto9"), 6).as("proto"),
        round(col("cut"), 6).as("cut"),
        coalesce(col("proto9") <= col("cut"), lit(true)).as("keep"))
      .orderBy("vec_id")
  }

  /** DuckDB twin of [[protoPrune]]: D3's frozen centroids as the same
    * VALUES literal, assignment + sampled order-statistic cut + keep
    * rule restated. A `def` (the oracle-dump-after-queries rule). */
  def protoPruneSql: String = {
    val rows = centValuesSql(ivfCentCache.oracleModel())
    val hb = Sampling.hashBucketSql("CAST(vec_id AS VARCHAR)", protoSalt)
    s"""WITH cents(cid, c_emb) AS (VALUES
      |    $rows),
      |cscore AS (
      |  SELECT e.vec_id, c.cid,
      |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.c_emb), 9) AS c9,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.c_emb), 9) DESC,
      |               c.cid) AS rk
      |  FROM embeddings e, cents c),
      |assign AS (SELECT vec_id, cid, c9 FROM cscore WHERE rk = 1),
      |samp AS (SELECT * FROM assign WHERE $hb < $ProtoSampleBar),
      |rk2 AS (
      |  SELECT cid, vec_id, c9,
      |    row_number() OVER (PARTITION BY cid ORDER BY c9 DESC, vec_id) AS r,
      |    count(*) OVER (PARTITION BY cid) AS n
      |  FROM samp),
      |cuts AS (
      |  SELECT cid, max(CASE WHEN r = CAST(ceil(n * $ProtoPruneFrac) AS BIGINT)
      |      THEN c9 END) AS cut
      |  FROM rk2 GROUP BY cid)
      |SELECT a.vec_id, a.cid, round(a.c9, 6) AS proto,
      |  round(c.cut, 6) AS cut,
      |  coalesce(a.c9 <= c.cut, true) AS keep
      |FROM assign a LEFT JOIN cuts c USING (cid)
      |ORDER BY a.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- Z3
  /** Per-cluster quota the balanced sample keeps (the published
    * cluster-balanced selection shape: equal representation per
    * semantic region, cf. the cluster-balanced variants in the data-
    * pruning literature around Sorscher et al. 2022 — where V3 keeps
    * each cluster's LEAST prototypical tail, this keeps a fixed-size
    * UNIFORM slice of every cluster, the device for building a
    * diversity-preserving subset or eval probe whose source mix no
    * longer tracks raw cluster mass). */
  val ClusterCap = 24
  private val clusterCapSalt = "ccap"

  /** Z3: cluster-balanced quota sampling — assign every vector to its
    * trained D3 centroid (frozen-literal oracle, the V3 machinery),
    * then keep at most [[ClusterCap]] vectors per cluster, chosen by a
    * deterministic salted hash rank (uniform within cluster, stable
    * across runs and engines; ties on vec_id).
    *
    * Scale shape: assignment is [[SemanticDedup.assignTo]]'s narrow
    * kernel projection (n·k cosines, no join, no shuffle); the quota is the bounded [[graft.functions.TopK]]
    * partial aggregation keyed by cid — only cap·P rows per cluster
    * cross the shuffle, never the corpus (a per-cid window would
    * hash-shuffle every row). Output is k·cap rows. */
  def clusterCapSample(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    clusterCapOn(spark, emb, centsDf(spark, ivfCentCache.model(spark, dir)))
  }

  private[graft] def clusterCapOn(spark: SparkSession, emb: DataFrame,
                                  cents: DataFrame): DataFrame = {
    val assigned = SemanticDedup.assignTo(spark, emb, cents)
      .select(col("vec_id"), col("cid"),
        Sampling.hashBucket(col("vec_id"), clusterCapSalt).as("hrank"))
    // TopK ranks (round-9 DESC, id ASC); negated integer hrank makes
    // that (hrank ASC, vec_id ASC) with no float rounding in play
    assigned
      .groupBy("cid")
      .agg(TopK.topk(spark, ClusterCap, col("vec_id"),
        (-col("hrank")).cast("double")).as("hits"))
      .select(col("cid"), explode(col("hits")).as("h"))
      .select(col("cid"), col("h.id").as("vec_id"),
        (-col("h.sim")).cast("long").as("hrank"))
      .orderBy("cid", "hrank", "vec_id")
  }

  /** DuckDB twin of [[clusterCapSample]]: frozen centroids as the same
    * VALUES literal, argmax assignment, per-cid (hrank, vec_id)
    * row_number quota. A `def` (oracle-dump-after-queries rule). */
  def clusterCapSampleSql: String = {
    val rows = centValuesSql(ivfCentCache.oracleModel())
    val hb = Sampling.hashBucketSql("CAST(vec_id AS VARCHAR)", clusterCapSalt)
    s"""WITH cents(cid, c_emb) AS (VALUES
      |    $rows),
      |cscore AS (
      |  SELECT e.vec_id, c.cid,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.c_emb), 9) DESC,
      |               c.cid) AS rk
      |  FROM embeddings e, cents c),
      |assign AS (
      |  SELECT vec_id, cid, $hb AS hrank FROM cscore WHERE rk = 1),
      |quota AS (
      |  SELECT cid, vec_id, hrank,
      |    row_number() OVER (PARTITION BY cid
      |      ORDER BY hrank ASC, vec_id ASC) AS qrk
      |  FROM assign)
      |SELECT cid, vec_id, hrank FROM quota
      |WHERE qrk <= $ClusterCap
      |ORDER BY cid, hrank, vec_id""".stripMargin
  }

  val ivfTopKSql: String =
    s"""WITH dims AS (
      |  SELECT label, generate_subscripts(embedding, 1) AS pos,
      |    CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings),
      |cents AS (
      |  SELECT label, list(c ORDER BY pos) AS c_emb
      |  FROM (SELECT label, pos, avg(v) AS c FROM dims GROUP BY 1, 2) t
      |  GROUP BY 1),
      |cscore AS (
      |  SELECT e.vec_id, e.embedding, c.label,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.c_emb), 9) DESC,
      |               c.label) AS rk
      |  FROM embeddings e, cents c),
      |assign AS (SELECT vec_id, embedding, label FROM cscore WHERE rk = 1),
      |probes AS (SELECT vec_id AS query_id, embedding AS q_emb, label
      |           FROM cscore WHERE vec_id < $NQueries AND rk <= $NProbe)
      |SELECT query_id, rank, vec_id, cos_sim FROM (
      |  SELECT p.query_id, a.vec_id,
      |    ${Vectors.cosineSql("p.q_emb", "a.embedding")} AS cos_sim,
      |    row_number() OVER (PARTITION BY p.query_id
      |      ORDER BY round(${Vectors.cosineSql("p.q_emb", "a.embedding")}, 9) DESC,
      |               a.vec_id) AS rank
      |  FROM probes p JOIN assign a ON p.label = a.label AND a.vec_id <> p.query_id) t
      |WHERE rank <= $K
      |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- D4
  /** Scalar-quantized ANN with exact rescoring (the int8 shortlist
    * pattern production vector stores use to cut memory bandwidth 4×):
    *
    * 1. **Quantize** each vector symmetrically to integer levels in
    *    [-127, 127]: `qv_i = round(x_i · 127/max|x|)` (zero vector →
    *    all-zero). Narrow per-row pass; the quantized vectors are what
    *    a 100 TB deployment would persist alongside (or instead of)
    *    the floats.
    * 2. **Shortlist** the top [[ShortM]] per query by quantized cosine.
    *    All sums are integer-valued doubles (exact up to 2⁵³), so both
    *    engines compute identical bits; ranking still goes through the
    *    standard round-9 + vec_id rule. Same two-stage TopK shape as
    *    D1: partial aggregation reduces each partition to ShortM rows.
    * 3. **Rescore** only the shortlist (ShortM·|queries| rows,
    *    broadcast) against the exact float embeddings and keep the
    *    final top-[[K]].
    *
    * The quantized pass touches every vector (like D1) but reads 1/4
    * the bytes at scale; compose with IVF bucketing (D2/D3) when the
    * corpus outgrows a full scan. */
  private val ShortM = 20

  def quantizedTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val q = emb
      .withColumn("mabs",
        expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
      .withColumn("qscale",
        expr("CASE WHEN mabs = 0.0 THEN 0.0 ELSE 127.0 / mabs END"))
      .withColumn("qv",
        expr("transform(embedding, x -> round(CAST(x AS DOUBLE) * qscale, 0))"))
      .select(col("vec_id"), col("embedding"), col("qv"))
    val queries = broadcast(q.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("qv").as("q_qv")))
    val cands = q.join(queries, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        Vectors.cosineFast(spark, col("q_qv"), col("qv")).as("q_cos"))
      .groupBy("query_id")
      .agg(TopK.topk(spark, ShortM, col("vec_id"), col("q_cos")).as("hits"))
      .select(col("query_id"), explode(col("hits")).as("h"))
      .select(col("query_id"), col("h.id").as("vec_id"))
    exactRescore(spark, emb, cands)
  }

  val quantizedTopKSql: String =
    s"""WITH q AS (
      |  SELECT vec_id, embedding,
      |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) *
      |      (CASE WHEN mabs = 0.0 THEN 0.0 ELSE 127.0 / mabs END), 0)) AS qv
      |  FROM (SELECT vec_id, embedding,
      |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mabs
      |        FROM embeddings) t),
      |short AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY round(${Vectors.cosineSql("a.qv", "b.qv")}, 9) DESC,
      |                 b.vec_id) AS qrk
      |    FROM q a JOIN q b ON b.vec_id <> a.vec_id
      |    WHERE a.vec_id < $NQueries) s
      |  WHERE qrk <= $ShortM)
      |SELECT query_id, rank, vec_id, cos_sim FROM (
      |  SELECT sh.query_id, sh.vec_id,
      |    ${Vectors.cosineSql("qe.embedding", "e.embedding")} AS cos_sim,
      |    row_number() OVER (PARTITION BY sh.query_id
      |      ORDER BY round(${Vectors.cosineSql("qe.embedding", "e.embedding")}, 9) DESC,
      |               e.vec_id) AS rank
      |  FROM short sh
      |  JOIN embeddings e ON e.vec_id = sh.vec_id
      |  JOIN embeddings qe ON qe.vec_id = sh.query_id) t
      |WHERE rank <= $K
      |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- D5
  /** Product quantization with ADC scoring — the production ANN shape
    * when even int8-per-dimension (D4) reads too many bytes: each
    * vector is stored as [[PqM]] byte codes (m·log₂k = 64 bits here vs
    * 256 B of floats, a 32× compression), and scoring a query against
    * the whole corpus touches only the code column plus a per-query
    * m·k-entry lookup table.
    *
    * - **Train** (driver-local, bounded): per subspace, k-means over
    *   the md5-ordered [[PqSampleN]]-row sample — farthest-point
    *   seeding with cached nearest (the D3 pattern) + Lloyd's rounds.
    * - **Encode** (one narrow pass): native `graft_pq_encode`
    *   expression; the codebook rides the expression as a codegen
    *   reference object — no registry, cluster-safe.
    * - **Score**: approximate cosine from the codes alone:
    *   dot ≈ Σₘ dotLUT[m][code], ‖v‖² ≈ Σₘ normLUT[m][code] (both
    *   exact for the RECONSTRUCTED vector). The scoring expression is
    *   8 array lookups — tiny, codegen-friendly, no giant term chain.
    * - **Rescore** the [[PqShortlist]] survivors against exact floats,
    *   keep top-[[K]] (same two-stage TopK shape as D1/D4).
    *
    * Not SQL-expressible (trained model state) → rows-only check;
    * recall gated by AnnRecallSpec against brute force. Compose with
    * IVF (D3) when a full code scan is still too much: same codes,
    * probed buckets only. */
  private val PqM = 8
  private val PqK = 256 // the standard 8-bit-per-subvector codebook
  private val PqSampleN = 2048
  private val PqShortlist = 50
  // residual codes are tighter (lower-variance input to the same 8x256
  // codebook), so IVF-PQ needs half the rescore shortlist for the same
  // recall bar
  private val PqShortlistIvf = 25
  private val PqIters = 5

  /** Trained PQ model: flat codebook (centroid (mi, j) at
    * [((mi·k)+j)·d, +d)) TOGETHER with its geometry. m/k/d travel with
    * the codebook so every consumer (encode, LUT build, ADC indexing)
    * reads the same values — a caller training with non-default m/k
    * can no longer silently misindex hardcoded-size LUTs. */
  case class PqModel(cb: IndexedSeq[Float], m: Int, k: Int, d: Int)

  /** Deterministic codebook training: md5 sample order, smallest-id
    * ties, fixed iteration count; empty clusters keep their previous
    * centroid. */
  def trainPqCodebook(emb: DataFrame, m: Int = PqM, k: Int = PqK,
                      iters: Int = PqIters): PqModel = {
    val sample: Array[Array[Float]] = emb
      .select(col("vec_id"), col("embedding"))
      .orderBy(md5(col("vec_id").cast("string"))).limit(PqSampleN)
      .collect().map(_.getSeq[Float](1).toArray)
    require(sample.nonEmpty, "cannot train a PQ codebook on an empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val d = dim / m
    val cb = new Array[Float](m * k * d)
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    // subspaces are INDEPENDENT (disjoint slices of the sample,
    // disjoint cb ranges) — fan the m trainings across a fixed pool;
    // bit-identical to the sequential loop by construction. The
    // driver-local seeding + Lloyd's otherwise runs m·k·|sample|·d
    // float work on one core inside every PQ-family rep (D5/D6/…).
    val pqPool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(m, Runtime.getRuntime.availableProcessors()))
    val pqFutures = (0 until m).map { mi => pqPool.submit(
      new java.util.concurrent.Callable[Unit] { def call(): Unit = {
      val subs: Array[Array[Double]] =
        sample.map(v => v.slice(mi * d, mi * d + d).map(_.toDouble))
      // farthest-point seeding with cached nearest distance (L2)
      val cents = scala.collection.mutable.ArrayBuffer(subs(0))
      val near = Array.fill(subs.length)(Double.MaxValue)
      val taken = Array.fill(subs.length)(false)
      taken(0) = true
      while (cents.size < math.min(k, subs.length)) {
        val latest = cents.last
        var bestIdx = -1
        var i = 0
        while (i < subs.length) {
          if (!taken(i)) {
            val dd = l2(subs(i), latest)
            if (dd < near(i)) near(i) = dd
            if (bestIdx < 0 || near(i) > near(bestIdx)) bestIdx = i
          }
          i += 1
        }
        taken(bestIdx) = true
        cents += subs(bestIdx)
      }
      while (cents.size < k) cents += cents.head // degenerate tiny corpus
      // Lloyd's rounds: argmin assign (ties -> smallest code), mean update
      for (_ <- 1 to iters) {
        val sums = Array.fill(k)(new Array[Double](d))
        val counts = new Array[Int](k)
        for (s <- subs) {
          var best = 0; var bestDist = Double.MaxValue
          var j = 0
          while (j < k) {
            val dd = l2(s, cents(j))
            if (dd < bestDist) { bestDist = dd; best = j }
            j += 1
          }
          counts(best) += 1
          var i = 0
          while (i < d) { sums(best)(i) += s(i); i += 1 }
        }
        for (j <- 0 until k if counts(j) > 0)
          cents(j) = sums(j).map(_ / counts(j))
      }
      for (j <- 0 until k; i <- 0 until d)
        cb((mi * k + j) * d + i) = cents(j)(i).toFloat
    }})}
    try pqFutures.foreach(_.get())
    finally pqPool.shutdown()
    PqModel(cb.toIndexedSeq, m, k, d)
  }

  /** The shared ADC machinery (single source of truth for the
    * numerically-sensitive parts, used by [[pqTopK]] AND
    * [[ivfPqTopK]]):
    * - broadcastable (query_id, dot_lut, q_norm) frame from a bounded
    *   collect of the NQueries query vectors (per-query dot LUT
    *   against every centroid, exact query norm);
    * - the codebook-constant norm² LUT as one literal column;
    * - the 8-lookup score expression over a `code` column:
    *   dotLUT-sum / (q_norm · sqrt(normLUT-sum)). */
  /** Bounded collect of the NQueries query vectors (shared by the ADC
    * paths, which need them driver-side to build LUTs). */
  private def collectQueryVecs(emb: DataFrame): Array[(Long, Array[Float])] =
    emb.where(col("vec_id") < NQueries)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  /** The driver-side ADC model state (all bounded): the trained
    * codebook plus the per-query dot LUTs / norms and the
    * codebook-constant norm² LUT. One value both the Spark plan AND
    * the oracle SQL are built from, so the two engines necessarily
    * score against identical doubles. */
  private[operators] case class AdcArtifacts(
      model: PqModel,
      qRows: Seq[(Long, Seq[Double], Double)],
      normLut: IndexedSeq[Double])

  private def adcArtifacts(qVecs: Array[(Long, Array[Float])],
                           model: PqModel): AdcArtifacts = {
    import model.{cb, m, k, d}
    val normLut = Array.tabulate(m * k) { idx =>
      var s = 0.0; var i = 0
      while (i < d) { val c = cb(idx * d + i).toDouble; s += c * c; i += 1 }
      s
    }
    val qRows = qVecs.map { case (id, v) =>
      val dotLut = Array.tabulate(m * k) { idx =>
        val mi = idx / k
        var s = 0.0; var i = 0
        while (i < d) { s += v(mi * d + i).toDouble * cb(idx * d + i).toDouble; i += 1 }
        s
      }
      val qn = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
      (id, dotLut.toSeq, qn)
    }.toSeq
    AdcArtifacts(model, qRows, normLut.toIndexedSeq)
  }

  /** Query frame + LUT plan constants. The per-query dot LUTs ride as
    * ONE flattened literal array indexed by `qidx` — NOT as an
    * array column on the joined rows: the former (query_id, dot_lut,
    * q_norm) frame made every candidate row of the score join
    * materialize its query's m·k-double LUT (16 KB per row — ~1.3 GB
    * of UnsafeRow writes for 80k candidates at sf0.1, measured 5.5 s
    * for the join+score pass alone), when the score only LOOKS UP m
    * of those doubles per row. The joined row now carries three
    * scalars; the lookups hit the shared literal. Same doubles, same
    * left-fold order — bit-identical scores. */
  private def adcFrames(spark: SparkSession,
                        art: AdcArtifacts): (DataFrame, Array[Double], Array[Double]) = {
    val q = art.qRows.zipWithIndex.map { case ((id, _, qn), qi) => (id, qi, qn) }
    val dotFlat = art.qRows.flatMap(_._2).toArray
    (spark.createDataFrame(q).toDF("query_id", "qidx", "q_norm"),
      dotFlat, art.normLut.toArray)
  }

  /** Σ over subvectors of lut[off + mi·k + code[mi]] — the m-lookup
    * sum every ADC term (dot, norm, residual cross term) is built
    * from, as the fused native kernel ([[graft.plans.LutSum]]): the
    * LUT rides the expression as a FrozenSeq reference object, so
    * plan hashing is O(1) where an element_at chain over the same
    * array LITERAL cost multi-second AQE-replan gaps. Requires a
    * `code` column in scope; `off` selects a slice of a flattened
    * multi-LUT array (0 for a single-LUT array). Same left-fold
    * order — bit-identical sums. */
  private def adcLutSum(spark: SparkSession, model: PqModel, lut: Array[Double],
                        off: Column = lit(0)): Column = {
    graft.plans.GraftFunctions.register(spark)
    call_function("graft_lut_sum", col("code"), off,
      lit(lut), lit(model.k))
  }

  /** ADC score column; requires `code`, `qidx`, `q_norm` in scope.
    * `dotBase`/`normBase` shift the reconstruction for residual codes
    * (v̂ = c + r̂): dot gains the exact q·c term, the squared norm
    * gains |c|² + 2c·r̂ (the cross term is the per-centroid LUT sum
    * a caller passes via `normBase`). */
  private def adcScore(spark: SparkSession, model: PqModel,
                       dotFlat: Array[Double], normLut: Array[Double],
                       dotBase: Column = lit(0.0),
                       normBase: Column = lit(0.0)): Column =
    (dotBase + adcLutSum(spark, model, dotFlat,
      col("qidx") * lit(model.m * model.k))) /
      (col("q_norm") * sqrt(normBase + adcLutSum(spark, model, normLut)))

  /** Exact-cosine rescore of a (query_id, vec_id) shortlist → ranked
    * top-[[K]] (shared tail of D4/D5/D6). */
  private[operators] def exactRescore(spark: SparkSession, emb: DataFrame,
                           cands: DataFrame): DataFrame = {
    val qEmb = broadcast(emb.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    explodeRanked(
      broadcast(cands).join(emb, "vec_id")
        .join(qEmb, "query_id")
        .select(col("query_id"), col("vec_id"),
          Vectors.cosineFast(spark, col("q_emb"), col("embedding")).as("cos_sim"))
        .groupBy("query_id")
        .agg(TopK.topk(spark, K, col("vec_id"), col("cos_sim")).as("hits")))
  }

  /** Frozen D5 artifact for the oracle: trained codebook + query LUTs
    * + norm² LUT — everything the score depends on, collected once.
    * Retrains per invocation (bench semantics), records the last run
    * for the oracle dump. */
  private val pqCache = new OracleModelCache[AdcArtifacts]((spark, dir) => {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    adcArtifacts(collectQueryVecs(emb), trainPqCodebook(emb))
  })

  def pqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val art = pqCache.model(spark, dir)
    val codes = emb.select(col("vec_id"),
      Vectors.pqEncodeFast(spark, col("embedding"),
        art.model.cb, art.model.m, art.model.k, art.model.d).as("code"))
    val (queries, dotFlat, normLut) = adcFrames(spark, art)
    val cands = codes.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        adcScore(spark, art.model, dotFlat, normLut).as("adc"))
      .groupBy("query_id")
      .agg(TopK.topk(spark, PqShortlist, col("vec_id"), col("adc")).as("hits"))
      .select(col("query_id"), explode(col("hits")).as("h"))
      .select(col("query_id"), col("h.id").as("vec_id"))
    exactRescore(spark, emb, cands)
  }

  /** SQL restatement of [[graft.plans.PqCodec.encode]] over a CTE
    * `subName` exposing per-(vec_id, mi) subspace dims x1..xd as
    * DOUBLEs: flat codebook literal, sequential-order L2 (explicit
    * left-associated term sum — the engines' IEEE ops in the same
    * order produce the same bits, so the argmin codes are identical),
    * ties to the smallest code, per-vec code list ordered by
    * subspace. */
  private def encodeCtesSql(model: PqModel, subName: String): String = {
    val diffs = (1 to model.d).map(i =>
      s"s.x$i - cb[(s.mi*${model.k} + r.j)*${model.d} + $i] AS d$i")
      .mkString(",\n      ")
    val dist = (1 to model.d).map(i => s"d$i*d$i").mkString(" + ")
    s"""cbv AS (SELECT CAST(${dArrSql(model.cb.map(_.toDouble))} AS DOUBLE[]) AS cb),
      |js AS (SELECT CAST(range AS INTEGER) AS j FROM range(0, ${model.k})),
      |dst AS (
      |  SELECT vec_id, mi, j, ($dist) AS dist FROM (
      |    SELECT s.vec_id, s.mi, r.j,
      |      $diffs
      |    FROM $subName s, js r, cbv) t0),
      |enc AS (SELECT vec_id, mi, j FROM (
      |  SELECT vec_id, mi, j,
      |    row_number() OVER (PARTITION BY vec_id, mi ORDER BY dist, j) AS erk
      |  FROM dst) t1 WHERE erk = 1),
      |codes AS (SELECT vec_id, list(j ORDER BY mi) AS code FROM enc GROUP BY vec_id)"""
      .stripMargin
  }

  /** Σ over subvectors of lut[mi·k + code[mi]] in SQL — the exact twin
    * of [[adcLutSum]]'s left fold. */
  private def adcSumSql(lut: String, code: String, model: PqModel): String =
    (0 until model.m).map(mi =>
      s"$lut[${mi * model.k + 1} + $code[${mi + 1}]]").mkString(" + ")

  /** Shared exact-rescore SQL tail over a `short(query_id, vec_id)`
    * CTE (the twin of [[exactRescore]]). */
  private[operators] def rescoreSql: String =
    s"""SELECT query_id, rank, vec_id, cos_sim FROM (
      |  SELECT sh.query_id, sh.vec_id,
      |    ${Vectors.cosineSql("qe.embedding", "e.embedding")} AS cos_sim,
      |    row_number() OVER (PARTITION BY sh.query_id
      |      ORDER BY round(${Vectors.cosineSql("qe.embedding", "e.embedding")}, 9) DESC,
      |               e.vec_id) AS rank
      |  FROM short sh
      |  JOIN embeddings e ON e.vec_id = sh.vec_id
      |  JOIN embeddings qe ON qe.vec_id = sh.query_id) t
      |WHERE rank <= $K
      |ORDER BY query_id, rank""".stripMargin

  /** DuckDB twin of [[pqTopK]]: codebook/LUT literals from the frozen
    * run artifact, the encode argmin restated (`encodeCtesSql`), the
    * ADC score as the same left-associated lookup sums, shortlist by
    * (round-9 desc, vec_id), exact rescore. Every floating-point step
    * is either a shared literal or an identically-ordered IEEE op, so
    * the hash gate covers the trained model end-to-end. */
  def pqTopKSql: String = {
    val art = pqCache.oracleModel()
    val model = art.model
    val xs = (1 to model.d).map(i =>
      s"CAST(embedding[mi*${model.d} + $i] AS DOUBLE) AS x$i").mkString(",\n    ")
    val qlRows = art.qRows.map { case (id, dl, qn) =>
      s"($id, CAST(${dArrSql(dl)} AS DOUBLE[]), ${fmtD(qn)})"
    }.mkString(",\n    ")
    s"""WITH mis AS (SELECT CAST(range AS INTEGER) AS mi FROM range(0, ${model.m})),
      |sub AS (
      |  SELECT vec_id, mi,
      |    $xs
      |  FROM embeddings, mis),
      |${encodeCtesSql(model, "sub")},
      |nlv AS (SELECT CAST(${dArrSql(art.normLut)} AS DOUBLE[]) AS nl),
      |ql(query_id, dot_lut, q_norm) AS (VALUES
      |    $qlRows),
      |cand AS (
      |  SELECT q.query_id, c.vec_id,
      |    (0.0 + (${adcSumSql("q.dot_lut", "c.code", model)})) /
      |      (q.q_norm * sqrt(0.0 + (${adcSumSql("nl.nl", "c.code", model)}))) AS adc
      |  FROM codes c, ql q, nlv nl
      |  WHERE c.vec_id <> q.query_id),
      |short AS (SELECT query_id, vec_id FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY round(adc, 9) DESC, vec_id) AS srk
      |  FROM cand) t2 WHERE srk <= $PqShortlist)
      |$rescoreSql""".stripMargin
  }

  // ---------------------------------------------------------------- D6
  /** IVF-PQ — the standard billion-scale index, composed from the two
    * trained structures this module already has: D3's unsupervised
    * coarse centroids prune the scan to the query's NProbe buckets
    * (touching ~NProbe/C of the corpus), and inside those buckets D5's
    * ADC codes are scored instead of floats (8 B/vector). Shortlist →
    * exact rescore as everywhere else. At 100 TB this is the only
    * shape that both bounds bytes-read per query AND avoids a full
    * scan; the two models train independently on the same bounded
    * sample budget. Rows-only (trained state); recall-gated on the
    * clustered fixture like D3. */
  /** Residual (IVFADC) formulation: codes encode `v − c(v)` — the
    * residual against the assigned coarse centroid — not the raw
    * vector. Residuals have far lower variance than the vectors
    * themselves (the coarse structure is already explained by the
    * centroid), so the same m×k codebook quantizes them much more
    * tightly; the rescore shortlist is HALF of flat-PQ's for the same
    * recall bar. ADC stays exact for the reconstruction v̂ = c + r̂:
    *   q·v̂    = q·c + Σ dotLUT[code]          (q·c exact, per probe)
    *   ‖v̂‖²  = ‖c‖² + Σ crossLUT_c[code] + Σ normLUT[code]
    * where crossLUT_c[mi·k+j] = 2·c_mi·cb_mi,j is a per-centroid
    * constant — C·m·k doubles total, broadcast with the probes. */
  /** Frozen D6 artifact for the oracle: coarse centroids, the
    * residual-trained ADC state, the per-centroid exact terms (‖c‖²,
    * 2c·cb cross LUT), and q·c per (query, centroid) — every
    * driver-computed double the score depends on, so the oracle SQL
    * can embed them as literals and the two engines score identical
    * bits. */
  private[operators] case class IvfPqArtifacts(
      cents: Array[(Int, Array[Double])],
      adc: AdcArtifacts,
      centProps: Seq[(Int, Double, Seq[Double])],
      qcDots: Seq[(Long, Int, Double)])

  /** Coarse-assign (the narrow kernel argmax), subtract the winning
    * centroid, keep the residual in FLOAT (the codec's input type —
    * codebook training uses the SAME cast, so train and encode see
    * identical bits). */
  private def ivfPqResiduals(spark: SparkSession, emb: DataFrame,
                             cents: DataFrame): DataFrame =
    // assignment via SemanticDedup.assignTo (CentScoreSpec + the
    // oracle gate pin its rule); only the k-row centroid join remains
    SemanticDedup.assignTo(spark, emb, cents)
      .select("vec_id", "embedding", "cid")
      .join(broadcast(cents), "cid")
      .select(col("vec_id"), col("cid"),
        expr("zip_with(embedding, c_emb, (x, y) -> CAST(CAST(x AS DOUBLE) - y AS FLOAT))")
          .as("embedding"))

  private def ivfPqArtifacts(spark: SparkSession, dir: String,
                             c: Int): IvfPqArtifacts = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val centArr = trainCentroids(spark, emb, c).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val model = trainPqCodebook(
      ivfPqResiduals(spark, emb, centsDf(spark, centArr))
        .select("vec_id", "embedding"))
    val qVecs = collectQueryVecs(emb)
    // driver-side exact per-centroid terms (C rows — bounded like the
    // query collect): ‖c‖², the 2c·cb cross LUT, and q·c per probe
    val centProps = centArr.toSeq.map { case (cid, ce) =>
      val cNorm2 = ce.map(x => x * x).sum
      val crossLut = Array.tabulate(model.m * model.k) { idx =>
        val mi = idx / model.k
        var s = 0.0; var i = 0
        while (i < model.d) {
          s += 2.0 * ce(mi * model.d + i) * model.cb(idx * model.d + i).toDouble
          i += 1
        }
        s
      }
      (cid, cNorm2, crossLut.toSeq)
    }
    val qcDots = for {
      (qid, qv) <- qVecs.toSeq; (cid, ce) <- centArr.toSeq
    } yield {
      var s = 0.0; var i = 0
      val n = math.min(qv.length, ce.length)
      while (i < n) { s += qv(i).toDouble * ce(i); i += 1 }
      (qid, cid, s)
    }
    IvfPqArtifacts(centArr, adcArtifacts(qVecs, model), centProps, qcDots)
  }

  private val ivfPqCache = new OracleModelCache[IvfPqArtifacts](
    (spark, dir) => ivfPqArtifacts(spark, dir, TrainedK))

  def ivfPqTopK(spark: SparkSession, dir: String, c: Int = TrainedK): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val art =
      if (c == TrainedK) ivfPqCache.model(spark, dir)
      else ivfPqArtifacts(spark, dir, c)
    val model = art.adc.model
    val cents = centsDf(spark, art.cents)

    // NOTE on lineage: nothing is cached here, so the corpus-wide
    // assign+residual lineage executes twice (once inside the
    // artifact step's codebook-sample collect, then the candidate
    // scan; the probe side is cheap — its vec_id < NQueries filter
    // pushes to the scan). A deployment that cares would checkpoint
    // (vec_id, cid, code) — 8 B/vector — as the persisted index
    // artifact; a session-lifetime persist() of the float residuals
    // here would be the wrong shape at 100 TB.
    val residuals = ivfPqResiduals(spark, emb, cents)
    val codes = residuals.select(col("vec_id"), col("cid"),
      Vectors.pqEncodeFast(spark, col("embedding"),
        model.cb, model.m, model.k, model.d).as("code"))
    // per-centroid exact terms: cross LUTs flattened into ONE literal
    // indexed by `cidx` (position in the artifact order — cids can be
    // sparse after empty-cluster drops), same de-payloading as
    // adcFrames' dot LUTs: the probe rows carry scalars, not 16 KB
    // arrays copied into every candidate row
    val centProps = spark.createDataFrame(
        art.centProps.zipWithIndex.map { case ((cid, n2, _), ci) => (cid, ci, n2) })
      .toDF("cid", "cidx", "c_norm2")
    val crossFlat = art.centProps.flatMap(_._3).toArray
    val qcDots = spark.createDataFrame(art.qcDots)
      .toDF("query_id", "cid", "qc_dot")

    // query side: NProbe nearest centroids per query via the narrow
    // top-n kernel (the former shape scored the FULL corpus against
    // the centroid table just to window-filter 40 query rows out of
    // it), joined with the ADC LUT frame and the exact centroid
    // terms — ≤ NProbe·|queries| broadcast rows (each carrying
    // m·k-double LUTs). Same round-9-desc/cid-asc rule.
    val probes = emb.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"),
        explode(SemanticDedup.literalTopCentroids(spark,
          SemanticDedup.collectCentroids(cents).toIndexedSeq, col("embedding"),
          NProbe)).as("cid"))
    val (queryLuts, dotFlat, normLut) = adcFrames(spark, art.adc)
    val queries = broadcast(queryLuts.join(probes, "query_id")
      .join(qcDots, Seq("query_id", "cid")).join(centProps, "cid"))
    val cands = codes.join(queries, Seq("cid"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        adcScore(spark, model, dotFlat, normLut,
          dotBase = col("qc_dot"),
          normBase = col("c_norm2") + adcLutSum(spark, model, crossFlat,
            col("cidx") * lit(model.m * model.k))).as("adc"))
      .groupBy("query_id")
      .agg(TopK.topk(spark, PqShortlistIvf, col("vec_id"), col("adc")).as("hits"))
      .select(col("query_id"), explode(col("hits")).as("h"))
      .select(col("query_id"), col("h.id").as("vec_id"))
    exactRescore(spark, emb, cands)
  }

  /** DuckDB twin of [[ivfPqTopK]]: coarse centroids / residual
    * codebook / LUTs / per-centroid exact terms all as literals from
    * the frozen run artifact; assignment and probes restated with the
    * house round-9-desc/cid-asc rule; residuals re-derived with the
    * identical DOUBLE−DOUBLE→FLOAT cast chain; the encode argmin and
    * ADC sums as identically-ordered IEEE ops (`encodeCtesSql` /
    * `adcSumSql`); shortlist `PqShortlistIvf`; exact rescore. */
  def ivfPqTopKSql: String = {
    val art = ivfPqCache.oracleModel()
    val model = art.adc.model
    val centRows = centValuesSql(art.cents)
    val xs = (1 to model.d).map(i =>
      s"CAST(CAST(CAST(embedding[mi*${model.d} + $i] AS DOUBLE) - c_emb[mi*${model.d} + $i] AS REAL) AS DOUBLE) AS x$i")
      .mkString(",\n    ")
    val qlRows = art.adc.qRows.map { case (id, dl, qn) =>
      s"($id, CAST(${dArrSql(dl)} AS DOUBLE[]), ${fmtD(qn)})"
    }.mkString(",\n    ")
    val cpRows = art.centProps.map { case (cid, n2, cl) =>
      s"($cid, ${fmtD(n2)}, CAST(${dArrSql(cl)} AS DOUBLE[]))"
    }.mkString(",\n    ")
    val qcdRows = art.qcDots.map { case (qid, cid, dt) =>
      s"($qid, $cid, ${fmtD(dt)})"
    }.mkString(",\n    ")
    s"""WITH cents(cid, c_emb) AS (VALUES
      |    $centRows),
      |cscore AS (
      |  SELECT e.vec_id, e.embedding, c.cid, c.c_emb,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.c_emb), 9) DESC,
      |               c.cid) AS rk
      |  FROM embeddings e, cents c),
      |assign AS (SELECT vec_id, embedding, cid, c_emb FROM cscore WHERE rk = 1),
      |mis AS (SELECT CAST(range AS INTEGER) AS mi FROM range(0, ${model.m})),
      |sub AS (
      |  SELECT vec_id, mi,
      |    $xs
      |  FROM assign, mis),
      |${encodeCtesSql(model, "sub")},
      |codesc AS (SELECT c.vec_id, a.cid, c.code
      |           FROM codes c JOIN assign a USING (vec_id)),
      |probes AS (SELECT vec_id AS query_id, cid
      |           FROM cscore WHERE vec_id < $NQueries AND rk <= $NProbe),
      |nlv AS (SELECT CAST(${dArrSql(art.adc.normLut)} AS DOUBLE[]) AS nl),
      |ql(query_id, dot_lut, q_norm) AS (VALUES
      |    $qlRows),
      |cp(cid, c_norm2, cross_lut) AS (VALUES
      |    $cpRows),
      |qcd(query_id, cid, qc_dot) AS (VALUES
      |    $qcdRows),
      |cand AS (
      |  SELECT p.query_id, cd.vec_id,
      |    (qc.qc_dot + (${adcSumSql("q.dot_lut", "cd.code", model)})) /
      |      (q.q_norm * sqrt((cp.c_norm2 + (${adcSumSql("cp.cross_lut", "cd.code", model)})) +
      |        (${adcSumSql("nl.nl", "cd.code", model)}))) AS adc
      |  FROM codesc cd
      |  JOIN probes p ON cd.cid = p.cid
      |  JOIN ql q ON q.query_id = p.query_id
      |  JOIN qcd qc ON qc.query_id = p.query_id AND qc.cid = p.cid
      |  JOIN cp ON cp.cid = p.cid
      |  CROSS JOIN nlv nl
      |  WHERE cd.vec_id <> p.query_id),
      |short AS (SELECT query_id, vec_id FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY round(adc, 9) DESC, vec_id) AS srk
      |  FROM cand) t3 WHERE srk <= $PqShortlistIvf)
      |$rescoreSql""".stripMargin
  }
  // ---------------------------------------------------------------- Z5
  /** Z5: IVF-BQ — the quantization matrix's last cell: D3's trained
    * coarse probe prunes the scan to NProbe/C of the corpus (as in
    * D6), and inside the probed buckets candidates score by Z1's
    * integer hamming over sign-packed words instead of PQ's ADC float
    * lookups. Cheaper per candidate than every other rung (2
    * xor+popcount vs 8 LUT reads) at lower resolution, which the
    * deep [[BinaryAnn.ShortM]] shortlist + exact rescore absorb —
    * the standard "binary pre-filter inside a coarse index" serving
    * shape. Like D6 the two structures are independent: the same
    * frozen centroids, the same packed words Z1 persists. */
  def ivfBqTopK(spark: SparkSession, dir: String, c: Int = TrainedK): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val cents =
      if (c == TrainedK) centsDf(spark, ivfCentCache.model(spark, dir))
      else trainCentroids(spark, emb, c)
    val centRows = SemanticDedup.collectCentroids(cents).toIndexedSeq
    // corpus side: kernel argmax assignment, then one packing pass —
    // (vec_id, cid, words) IS the 8 B/vector persisted index artifact
    // of this shape
    val assigned = SemanticDedup.assignToLiteral(spark, emb, centRows)
      .select(col("vec_id"), col("cid"),
        Vectors.bitpackFast(spark, col("embedding")).as("words"))
    // query side: NProbe nearest centroids, each probe row carrying
    // the query's packed words — ≤ NProbe·|queries| broadcast rows
    val probes = emb.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"),
        explode(SemanticDedup.literalTopCentroids(spark, centRows,
          col("embedding"), NProbe)).as("cid"),
        Vectors.bitpackFast(spark, col("embedding")).as("q_words"))
    val cands = assigned.join(broadcast(probes), Seq("cid"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (-BinaryAnn.hammingOf("words", "q_words")).cast("double").as("score"))
      .groupBy("query_id")
      .agg(TopK.topk(spark, BinaryAnn.ShortM, col("vec_id"), col("score")).as("hits"))
      .select(col("query_id"), explode(col("hits")).as("h"))
      .select(col("query_id"), col("h.id").as("vec_id"))
    exactRescore(spark, emb, cands)
  }

  /** DuckDB twin of [[ivfBqTopK]]: frozen centroids as the VALUES
    * literal, assignment + probes restated with the house
    * round-9-desc/cid-asc rule, packed words as the explicit integer
    * chains (`BinaryAnn.wordSql`), hamming shortlist (ASC, vec_id),
    * exact rescore. The bucket-restricted shortlist stage is integer
    * end-to-end, like Z1. A `def` (oracle-dump-after-queries rule). */
  def ivfBqTopKSql: String = {
    val rows = centValuesSql(ivfCentCache.oracleModel())
    val wordCols = (0 until graft.plans.BitPack.Words)
      .map(w => s"${BinaryAnn.wordSql(w)} AS w_$w").mkString(",\n    ")
    s"""WITH cents(cid, c_emb) AS (VALUES
      |    $rows),
      |cscore AS (
      |  SELECT e.vec_id, e.embedding, c.cid,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.c_emb), 9) DESC,
      |               c.cid) AS rk
      |  FROM embeddings e, cents c),
      |pk AS (
      |  SELECT vec_id, cid,
      |    $wordCols
      |  FROM (SELECT vec_id, embedding, cid FROM cscore WHERE rk = 1) a),
      |probes AS (SELECT vec_id AS query_id, cid
      |           FROM cscore WHERE vec_id < $NQueries AND rk <= $NProbe),
      |qpk AS (SELECT vec_id AS query_id, ${(0 until graft.plans.BitPack.Words)
        .map(w => s"w_$w").mkString(", ")} FROM pk
      |        WHERE vec_id < $NQueries),
      |short AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT p.query_id, k.vec_id,
      |      row_number() OVER (PARTITION BY p.query_id
      |        ORDER BY (${BinaryAnn.hamSql("q", "k")}) ASC, k.vec_id) AS srk
      |    FROM probes p
      |    JOIN pk k ON k.cid = p.cid AND k.vec_id <> p.query_id
      |    JOIN qpk q ON q.query_id = p.query_id) s
      |  WHERE srk <= ${BinaryAnn.ShortM})
      |$rescoreSql""".stripMargin
  }

  // ---------------------------------------------------------------- D7
  /** D7: partition-pruned ON-DISK IVF index — the J2 layout device
    * applied to the vector store, which is how a production ANN index
    * on plain parquet actually serves: assignments are WRITTEN
    * hive-partitioned by `cid=` so a probe reads ONLY the probed
    * buckets' FILES (pruned at listing time from a literal cid
    * predicate), instead of scanning the whole corpus and filtering —
    * at 10^9 vectors with k=10^4 buckets and probe=16, that is 0.16%
    * of the files opened per query batch. Centroids persist beside
    * the index (the bounded model artifact), so serving needs no
    * retraining and the frozen generation contract is explicit
    * (O5's maintenance + drift gate apply verbatim to this layout:
    * delta re-assignments land in their cid directory).
    *
    * The probe set is computed DRIVER-SIDE from the collected
    * centroids with the house rule (round-9 cosine desc, ties to the
    * smallest cid — bit-matching assignTo/ivfSearchOn), because file
    * pruning needs the cid predicate to be a LITERAL at plan time;
    * queries are bounded, so this is k·|queries| driver floats.
    * IvfLayoutSpec pins the partition filter + strict file-count
    * reduction AND row equality with the identical search over a
    * FLAT copy of the same index rows — layout changes I/O, never
    * the answer. */
  def writeIvfIndex(spark: SparkSession, dir: String, outDir: String,
                    k: Int = 16, iters: Int = 2): Unit = {
    val emb = Tables.parallelized(spark, Tables.embeddings(spark, dir))
    val cents = trainCentroids(spark, emb, k, iters).localCheckpoint()
    SemanticDedup.assignTo(spark, emb, cents)
      .select("vec_id", "embedding", "cid")
      .write.mode("overwrite").partitionBy("cid")
      .parquet(s"$outDir/ivf.parquet")
    cents.write.mode("overwrite").parquet(s"$outDir/ivf_centroids.parquet")
  }

  /** R4 serving core: IVF top-K for an ARBITRARY query frame
    * `(query_id, q_emb)` against a prebuilt assigned index
    * `(vec_id, embedding, cid)` + its centroid generation — the shape
    * a standing-query stream probes per micro-batch (and any caller
    * with queries that are not corpus prefixes). Query-side probe
    * selection is a window over C rows PER QUERY (queries are bounded
    * by construction — a micro-batch or a request set); the corpus is
    * touched only through the probed cid buckets; the house
    * round-9-desc/cid-asc tie rule matches every batch form. */
  def ivfTopKForQueries(spark: SparkSession, queries: DataFrame,
                        index: DataFrame, cents: DataFrame,
                        k: Int = K, nProbe: Int = NProbe,
                        excludeSelf: Boolean = true): DataFrame = {
    val wQ = Window.partitionBy("query_id")
      .orderBy(round(col("c_cos"), 9).desc, col("cid"))
    val probes = queries.crossJoin(broadcast(cents))
      .select(col("query_id"), col("q_emb"), col("cid"),
        Vectors.cosineFast(spark, col("q_emb"), col("c_emb")).as("c_cos"))
      .withColumn("rk", row_number().over(wQ)).where(col("rk") <= nProbe)
      .select("query_id", "q_emb", "cid")
    val candidates = probes.join(index, Seq("cid"))
    // `excludeSelf` assumes query_id SHARES the corpus vec_id space
    // (corpus-prefix queries, the R4/spec shape). An external id space
    // that happens to collide with vec_ids would silently lose the
    // colliding corpus vector from its candidates — callers with their
    // own query ids pass excludeSelf = false.
    val matched =
      if (excludeSelf) candidates.where(col("vec_id") =!= col("query_id"))
      else candidates
    explodeRanked(
      matched
        .select(col("query_id"), col("vec_id"),
          Vectors.cosineFast(spark, col("q_emb"), col("embedding")).as("cos_sim"))
        .groupBy("query_id")
        .agg(TopK.topk(spark, k, col("vec_id"), col("cos_sim")).as("hits")))
  }

  /** D7 index build from the FROZEN TrainedK centroid generation —
    * the same artifact [[ivfTopKTrained]] searches with and
    * [[ivfTopKTrainedSql]] carries as a VALUES literal. An index
    * written here therefore answers [[ivfIndexTopK]] probes
    * IDENTICALLY to the lineage form, which is what puts the
    * probe-only serve path (`from_ann_ivf_index`,
    * `from_hard_negatives`) under the DuckDB hash gate: same
    * centroids, same round-9/smallest-cid assignment rule
    * (ivfSearchOn assigns through the same SemanticDedup kernel),
    * same probe/tie rules in the search. [[writeIvfIndex]] stays the
    * layout-spec's independent-training variant. */
  def writeTrainedIvfIndex(spark: SparkSession, dir: String,
                           outDir: String): Unit = {
    val emb = Tables.parallelized(spark, Tables.embeddings(spark, dir))
    val cents = centsDf(spark, ivfCentCache.model(spark, dir)).localCheckpoint()
    SemanticDedup.assignTo(spark, emb, cents)
      .select("vec_id", "embedding", "cid")
      .write.mode("overwrite").partitionBy("cid")
      .parquet(s"$outDir/ivf.parquet")
    cents.write.mode("overwrite").parquet(s"$outDir/ivf_centroids.parquet")
  }

  /** Top-K search over a written index dir. `flatPath` overrides the
    * partitioned read (the spec's layout-equality control). */
  def ivfIndexTopK(spark: SparkSession, indexDir: String,
                   nQueries: Int = NQueries, nProbe: Int = NProbe,
                   flatPath: Option[String] = None,
                   band: Option[(Double, Double)] = None): DataFrame = {
    import spark.implicits._
    val cents = spark.read.parquet(s"$indexDir/ivf_centroids.parquet")
      .collect().map(r => (r.getInt(0),
        r.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue).toArray))
    val index = flatPath match {
      case Some(p) => spark.read.parquet(p)
      case None => spark.read.parquet(s"$indexDir/ivf.parquet")
    }
    val queryRows = index.where(col("vec_id") < nQueries)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

    // driver-side probe under the house tie rule (round-9 desc, cid asc)
    def cos(a: Array[Float], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i)
        d += x * y; na += x * x; nb += y * y; i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    import graft.plans.CentOps.round9
    // plain Tuple3 rows, not a nested private case class: the product
    // encoder for an object-nested private class fails whole-stage
    // projection codegen (zero-arg accessor lookup) and silently falls
    // back to interpreter mode — round-12 verdict item 3
    val probes = queryRows.toSeq.flatMap { case (qid, q) =>
      cents.map { case (cid, c) => (cid, round9(cos(q, c))) }
        .sortBy { case (cid, cc) => (-cc, cid) }
        .take(nProbe)
        .map { case (cid, _) => (qid, cid, q) }
    }
    val cidSet = probes.map(_._2).distinct.sorted
    val probeDf = probes.toDF("query_id", "cid", "q_emb")

    val scored = index.where(col("cid").isin(cidSet: _*)) // literal => file pruning
      .join(broadcast(probeDf), Seq("cid"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        Vectors.cosineFast(spark, col("q_emb"), col("embedding")).as("cos_sim"))
    val banded = band match {
      case Some((lo, hi)) => scored.where(
        round(col("cos_sim"), 9) >= lo && round(col("cos_sim"), 9) < hi)
      case None => scored
    }
    explodeRanked(banded
      .groupBy("query_id")
      .agg(TopK.topk(spark, K, col("vec_id"), col("cos_sim")).as("hits")))
  }

  /** U4 at serving scale: hard-negative mining as a PROBE-ONLY pass
    * over the D7 on-disk `cid=`-partitioned index — the band filter
    * and bounded TopK compose with the IVF probe exactly as promised
    * in [[hardNegatives]]'s doc: only the probed buckets' files are
    * listed/read, scoring + band are map-side, ≤k rows per query
    * shuffle. Approximate like every IVF serve path (negatives
    * outside the probed buckets are unseen — acceptable for negative
    * MINING by construction, since any in-band vector is a valid hard
    * negative); AnnRecallSpec-style band membership is exact. */
  def hardNegativesFromIndex(spark: SparkSession, indexDir: String,
                             nQueries: Int = NQueries,
                             nProbe: Int = NProbe): DataFrame =
    ivfIndexTopK(spark, indexDir, nQueries, nProbe, None,
      Some((HardNegLo, HardNegHi)))

  /** DuckDB twin of [[hardNegativesFromIndex]] over a
    * [[writeTrainedIvfIndex]] artifact: [[ivfTopKTrainedSql]]'s
    * frozen-centroid assignment + probe CTEs, with the hard-negative
    * band filter applied BEFORE the per-query rank — exactly where
    * [[ivfIndexTopK]] applies its `band` predicate. (Deliberately NOT
    * [[hardNegativesSql]]: the index form is probe-only — band
    * members outside the probed buckets are unseen by design — so its
    * oracle must restate the probe, not the exhaustive scan.) */
  def hardNegativesFromIndexSql: String = {
    val rows = centValuesSql(ivfCentCache.oracleModel())
    s"""WITH cents(cid, c_emb) AS (VALUES
      |    $rows),
      |cscore AS (
      |  SELECT e.vec_id, e.embedding, c.cid,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.c_emb), 9) DESC,
      |               c.cid) AS rk
      |  FROM embeddings e, cents c),
      |assign AS (SELECT vec_id, embedding, cid FROM cscore WHERE rk = 1),
      |probes AS (SELECT vec_id AS query_id, embedding AS q_emb, cid
      |           FROM cscore WHERE vec_id < $NQueries AND rk <= $NProbe)
      |SELECT query_id, rank, vec_id, cos_sim FROM (
      |  SELECT p.query_id, a.vec_id,
      |    ${Vectors.cosineSql("p.q_emb", "a.embedding")} AS cos_sim,
      |    row_number() OVER (PARTITION BY p.query_id
      |      ORDER BY round(${Vectors.cosineSql("p.q_emb", "a.embedding")}, 9) DESC,
      |               a.vec_id) AS rank
      |  FROM probes p JOIN assign a ON p.cid = a.cid AND a.vec_id <> p.query_id
      |  WHERE round(${Vectors.cosineSql("p.q_emb", "a.embedding")}, 9) >= $HardNegLo
      |    AND round(${Vectors.cosineSql("p.q_emb", "a.embedding")}, 9) < $HardNegHi) t
      |WHERE rank <= $K
      |ORDER BY query_id, rank""".stripMargin
  }
}
