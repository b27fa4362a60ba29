package graft.operators

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Vectors
import graft.operators.OracleModelCache.{centValuesSql, centsDf}
import graft.sources.Tables

/** Semantic (embedding-space) deduplication, after the published
  * SemDeDup recipe: cluster the corpus with k-means, then inside each
  * cluster drop every member whose cosine similarity to a
  * higher-keep-priority member exceeds a threshold, where keep
  * priority is LOWEST similarity to the cluster centroid first — the
  * policy that preserves the most diverse exemplar of each semantic
  * group.
  *
  * This intentionally composes the existing pieces:
  * [[SimilaritySearch.trainCentroids]] (deterministic spherical
  * k-means) for the clustering and the native `graft_cosine`
  * expression for all scoring, so the operator adds no new numeric
  * surface — only the pairwise-within-cluster plan.
  */
object SemanticDedup {

  /** Target mean cluster population. k is derived from the corpus so
    * the within-cluster pairwise stage stays ~n·target/2 cosine
    * evaluations at ANY corpus size (the C5 data-derived-bit-width
    * precedent, applied to k-means): more data buys more clusters,
    * not bigger ones. SemDeDup's own regime (~100k clusters at web
    * scale) is this rule. */
  private val TargetClusterPop = 125
  private val MinClusters = 16

  /** Ceiling on the derived cluster count — the SemDeDup regime
    * itself (~100k clusters at web scale, for ANY corpus size) — and
    * on every centroid table a kernel scores ([[collectCentroids]]).
    * Unbounded k ∝ n stops making sense past this point: the
    * collected centroid matrix is k·d doubles (400 MB at k = 8·10⁵,
    * d = 64 — past driver and task-closure comfort), the 32·k training
    * sample stays a constant ~26% of the corpus, and the probe path's
    * coarse table grows as √k. Capped, all three are bounded and the
    * within-cluster pairwise stage degrades gracefully: population
    * grows as n/10⁵, keeping per-task join inputs ~n/k members —
    * 1,000 at 10⁸ vectors, still memory-trivial. */
  private[graft] val MaxClusters = 100000

  /** Data-derived cluster count: `clamp(ceil(n / 125), 16, 10⁵)`.
    * One count() job over the (column-pruned) id column — the same
    * class of bounded driver-side scalar the trainer's sample collect
    * already is. */
  private[graft] def autoK(n: Long): Int =
    math.min(MaxClusters.toLong, math.max(MinClusters.toLong,
      (n + TargetClusterPop - 1) / TargetClusterPop)).toInt

  /** Hash-sample size per centroid for the probe path's BOUNDED
    * training: Lloyd's runs over ≤ 32·k rows instead of the corpus,
    * so per-iteration cost is 32·k² — independent of n — which is
    * what actually unlocks the >10⁷-vector regime (the final
    * assignment was only one of iters+1 full n·k passes). */
  private val TrainPerCentroid = 32

  /** Sentinel for "probe path with the ADAPTIVE dial": callers opt
    * into the IVF regime without hand-picking a probe width. */
  val ProbeAuto: Int = -1

  /** The shipped probe dial: `max(2, ⌈k'/4⌉)` — a CONSTANT FRACTION
    * of the coarse space, so coverage does not decay as k (and with
    * it k' ≈ √k) grows. A fixed probe=2 covered 50% of the coarse
    * space at the k'=4 fixture but only 15% at k'=13 (10× corpus,
    * k=160), where routing agreement fell to 49.7% — the round-8
    * finding this rule closes. Probing k'/4 of the buckets scores
    * ~k/4 fine centroids per vector, preserving the probe path's
    * ~4× assignment saving at every scale. */
  private[graft] def adaptiveProbe(coarseK: Int): Int =
    math.max(2, (coarseK + 3) / 4)

  /** Per-row argmax against collected centroid rows via the fused
    * `graft_cent_best` kernel — one NARROW projection, no n·k
    * explode, no aggregation shuffle, and the embedding never leaves
    * its row, so the same plan is legal on a stateless append-mode
    * stream. The centroid matrix rides the expression as FrozenSeq
    * reference fields (O(1) plan hashing at any k). The tie/NaN rule
    * is the kernel's ([[graft.plans.CentOps]]): max round-9 cosine,
    * NaN loses, ties to the smallest cid. */
  private[graft] def assignToLiteral(spark: SparkSession, emb: DataFrame,
                              centRows: Seq[org.apache.spark.sql.Row]): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    val (flat, cids) = flatCentRows(centRows)
    withBest(emb, call_function("graft_cent_best", col("embedding"),
      lit(flat), lit(cids)))
  }

  /** The assignment's output shape (vec_id, embedding, cid, cent_sim)
    * from a `graft_cent_best` column; cent_sim is the winner's round-9
    * cosine (−2.0 when every candidate cosine is NaN). */
  private def withBest(emb: DataFrame, best: Column): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      best.getField("cid").as("cid"),
      (-best.getField("ns")).as("cent_sim"))

  /** Collected centroid rows (column 0: Int id, column 1: the
    * embedding as float or double elements) → the kernels' flat
    * matrix + parallel cid array. Element conversion is the same
    * Number.doubleValue the literal chain used (float→double is
    * exact). */
  private def flatCentRows(centRows: Seq[org.apache.spark.sql.Row])
      : (Array[Double], Array[Int]) = {
    val k = centRows.length
    require(k > 0, "empty centroid table")
    val d = centRows.head.getSeq[Any](1).length
    val flat = new Array[Double](k * d)
    val cids = new Array[Int](k)
    var j = 0
    while (j < k) {
      val r = centRows(j)
      cids(j) = r.getInt(0)
      val e = r.getSeq[Any](1)
      require(e.length == d,
        s"centroid ${cids(j)} has dimension ${e.length}, expected $d")
      var i = 0
      while (i < d) {
        flat(j * d + i) = e(i).asInstanceOf[Number].doubleValue
        i += 1
      }
      j += 1
    }
    (flat, cids)
  }

  /** The one bounded centroid collect: every centroid table a kernel
    * scores comes through here, as `limit(MaxClusters + 1)`, and a
    * table above [[MaxClusters]] fails loudly instead of being shipped
    * whole into every task. */
  private[graft] def collectCentroids(cents: DataFrame): Array[org.apache.spark.sql.Row] = {
    val rows = cents.limit(MaxClusters + 1).collect()
    require(rows.length <= MaxClusters,
      s"centroid table exceeds MaxClusters = $MaxClusters rows")
    rows
  }

  /** Collected centroid rows per centroid FRAME INSTANCE, keyed
    * weakly on the Dataset object itself (Dataset doesn't override
    * equals, so this is reference identity — a rebuilt frame over the
    * same path is a fresh key and re-collects, so data can never go
    * stale under a reused key; GC of the frame drops its entry).
    * Callers that run `assignTo` more than once on one frame — the
    * incremental and maintained-index paths, a streaming caller
    * assigning each micro-batch ([[graft.streaming.VecStreams]]) —
    * pay the collect job once. */
  private[graft] val collectedCents =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, Array[org.apache.spark.sql.Row]]())

  private def centRowsOf(cents: DataFrame): Array[org.apache.spark.sql.Row] = {
    var rows = collectedCents.get(cents)
    if (rows == null) {
      rows = collectCentroids(cents)
      collectedCents.put(cents, rows)
    }
    rows
  }

  /** Argmax-assign each vector of `emb` to its nearest centroid by
    * cosine: the centroid frame is collected once per instance
    * ([[collectedCents]], bounded by [[collectCentroids]]) and scored
    * by [[assignToLiteral]]'s narrow kernel — the one exact assignment
    * at every k, for every caller (training, dedup, search,
    * prototypicality pruning, the cluster-capped sample). Output:
    * (vec_id, embedding, cid, cent_sim). Package-visible so tests can
    * measure ROUTING agreement (probed vs exact against the SAME
    * centroid set — comparing across different trainings would diff
    * cid label spaces, not routing). */
  private[graft] def assignTo(spark: SparkSession, emb: DataFrame,
                              cents: DataFrame): DataFrame =
    assignToLiteral(spark, emb, ArraySeq.unsafeWrapArray(centRowsOf(cents)))

  /** Top-`n` centroid ids per row against a COLLECTED centroid frame
    * (column 0: Int id, column 1: the embedding) via the fused
    * `graft_cent_topn` kernel — one NARROW projection, no aggregation
    * (stream-safe), deterministic (ns asc, cid asc) selection with
    * the NaN→+2.0 sentinel ("NaN loses", `assignTo`'s rule), the
    * exact contract of the former `slice(array_sort(transform(...)),
    * 1, n).cid` chain. The matrix rides the
    * expression as FrozenSeq reference fields, so k in the low
    * thousands no longer bloats the plan — callers at larger k still
    * route through a coarse quantizer first (per-row cost is k·d). */
  private[graft] def literalTopCentroids(spark: SparkSession, cents: DataFrame,
                                         emb: Column, n: Int): Column =
    literalTopCentroids(spark, collectCentroids(cents).toIndexedSeq, emb, n)

  /** Row-level overload: callers that already hold the collected
    * centroid rows (one collect shared across assignment + probe
    * sides) build both kernels from the same rows. */
  private[graft] def literalTopCentroids(spark: SparkSession,
                                         centRows: Seq[org.apache.spark.sql.Row],
                                         emb: Column, n: Int): Column = {
    graft.plans.GraftFunctions.register(spark)
    val (flat, cids) = flatCentRows(centRows)
    call_function("graft_cent_topn", emb, lit(flat), lit(cids), lit(n))
  }

  /** The >10⁷-vector assignment path (the SemDeDup/faiss shape): a
    * coarse quantizer over the CENTROIDS cuts the per-vector argmax
    * from k cosines to ~√k + probe·√k. Coarse centroids come from the
    * same deterministic trainer run over the k fine centroids
    * (k' ≈ ⌈√k⌉, float-cast); each fine centroid is routed to its
    * coarse bucket on the driver with the kernel's own argmax over the
    * collected coarse rows. Each vector then runs ONE narrow
    * projection: the `graft_cent_topn` router picks its top-`probe`
    * populated coarse buckets and `graft_cent_best` scores only the
    * fine centroids of those buckets (a gid-sorted matrix, original
    * double `c_emb`) — no candidate stream, no shuffle, no join.
    * Assignment becomes approximate — a vector whose true centroid
    * lives in an unprobed coarse bucket lands on its best PROBED one —
    * which trades a little cluster purity for an O(√k) per-vector
    * cost; the agreement rate is gated by PackingSpec (probing every
    * bucket is bit-identical to [[assignTo]]) and the semantics of the
    * dedup rule are unchanged (it never requires optimal clustering,
    * only a deterministic partition). */
  private[graft] def assignViaIvf(spark: SparkSession, emb: DataFrame,
                                  cents: DataFrame, probe: Int = ProbeAuto,
                                  iters: Int = 2): DataFrame = {
    // probe = 0 would route every vector to no bucket — fail fast
    // like trainCentroids. ProbeAuto resolves to adaptiveProbe(k')
    // once k' is known below.
    require(probe >= 1 || probe == ProbeAuto,
      s"probe must be >= 1 or ProbeAuto, got $probe")
    graft.plans.GraftFunctions.register(spark)
    val fine = centRowsOf(cents)
    val coarseK = math.ceil(math.sqrt(fine.length.toDouble)).toInt.max(1)
    val probeEff = if (probe == ProbeAuto) adaptiveProbe(coarseK) else probe
    // cid is Int and post-Lloyd's centroids are array<double>; the
    // trainer's sample collect reads (Long, array<float>) — cast both
    // (float truncation only affects coarse ROUTING, which is the
    // approximate part by design; fine scoring keeps full precision)
    val centVecs = cents.select(col("cid").cast("long").as("vec_id"),
      col("c_emb").cast("array<float>").as("embedding"))
    val coarse = collectCentroids(
      SimilaritySearch.trainCentroids(spark, centVecs, coarseK, iters))
    val (gFlat, gCids) = flatCentRows(ArraySeq.unsafeWrapArray(coarse))
    val gStarts = Array(0, gCids.length)
    // fine centroid -> coarse gid: the kernel over the same float cast
    val gidOf = fine.map { r =>
      val e = r.getSeq[Any](1).map(_.asInstanceOf[Number].floatValue).toArray
      graft.plans.CentOps.best(UnsafeArrayData.fromPrimitiveArray(e),
        ef = true, gFlat, gCids, gStarts, graft.plans.CentOps.OneBucket).getInt(1)
    }
    // route ONLY over coarse buckets that hold fine centroids: Lloyd's
    // mean update can empty a bucket after its last re-assignment, and
    // a vector whose every probed bucket were empty would have no
    // candidate. Router cids are bucket indexes in gid order, so the
    // router's (ns, cid) tie order is the gid order.
    val bucketOf = gidOf.distinct.sorted.zipWithIndex.toMap
    val router = coarse.flatMap(r =>
      bucketOf.get(r.getInt(0)).map(b => org.apache.spark.sql.Row(b, r.get(1))))
    val bucket = gidOf.map(bucketOf)
    val order = fine.indices.sortBy(i => (bucket(i), fine(i).getInt(0)))
    val (flat, cids) = flatCentRows(order.map(fine))
    val starts = Array.tabulate(bucketOf.size + 1)(b => bucket.count(_ < b))
    withBest(emb, call_function("graft_cent_best", col("embedding"),
      lit(flat), lit(cids), lit(starts),
      literalTopCentroids(spark, router.toIndexedSeq, col("embedding"), probeEff)))
  }

  /** Train-and-assign over the full embeddings table; `k <= 0` means
    * `autoK`. `probeCoarse = 0` is the exact regime: full-corpus
    * Lloyd's + exact argmax (n·k per pass). `probeCoarse != 0`
    * ([[ProbeAuto]] for the adaptive dial, `> 0` for an explicit
    * probe width) is the >10⁷-vector regime END TO END: training
    * runs on a hash-ordered
    * bounded sample of 32·k rows (per-iteration cost 32·k²,
    * independent of n — the SemDeDup/faiss discipline; sampling only
    * moves WHERE centroids land, and the fixture sample covers the
    * whole corpus so the agreement gates measure routing alone) and
    * the corpus is assigned via the IVF probe (~2·probe·√k cosines
    * per vector). Without the sampled training, the probe would only
    * remove the last of iters+1 full n·k passes. Exposed for
    * ScalingStats, whose cluster-size probe must measure the
    * operator's OWN clustering (it pins k=16 to exhibit the fixed-k
    * quadratic the auto rule prevents). */
  private[graft] def assigned(spark: SparkSession, dir: String,
                              k: Int, iters: Int,
                              probeCoarse: Int = 0): DataFrame = {
    require(probeCoarse >= 0 || probeCoarse == ProbeAuto,
      s"probeCoarse must be >= 0 or ProbeAuto, got $probeCoarse")
    // parallelized: the n·k kernel argmax is NARROW — its task
    // count is the scan's split count, so a small-file corpus would
    // run the dominant CPU stage nearly serially (the minhash
    // precedent; a no-op whenever the scan already yields >= cores
    // splits, i.e. always at real scale)
    val emb = Tables.parallelized(spark, Tables.embeddings(spark, dir))
    val kk = if (k > 0) k else autoK(emb.select("vec_id").count())
    if (probeCoarse == 0)
      assignTo(spark, emb, SimilaritySearch.trainCentroids(spark, emb, kk, iters))
    else {
      // materialize the sample ONCE: trainCentroids runs 1 + iters
      // jobs against it, and a lazy limit would re-scan and re-sort
      // the full corpus per job — exactly the n-dependence this
      // regime exists to remove. repartition first: a global
      // orderBy().limit() lands on ONE partition, which would run
      // every Lloyd pass over the sample single-threaded (the trainer
      // re-sorts its own seed internally, so sample order is free)
      val sample = SimilaritySearch
        .hashOrderedSample(emb, TrainPerCentroid * kk)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
      assignViaIvf(spark, emb,
        SimilaritySearch.trainCentroids(spark, sample, kk, iters), probeCoarse)
    }
  }

  /** I4: per-vector semantic-dedup verdict.
    *
    * Default `tau` = 0.35 matches [[Dedup.embeddingNearDup]]'s (C5)
    * near-dup bar — the synthetic corpus's planted neighbors sit in
    * the 0.35-0.5 cosine band (measured: max pairwise cosine 0.48 at
    * sf0.001), where SemDeDup on real web embeddings would run ≥0.9.
    * The threshold is a free parameter; nothing in the plan depends
    * on it.
    *
    * Output: one row per embedding — its cluster, centroid
    * similarity, and `keep`. The dedup rule is the matrix form of the
    * published algorithm: rank cluster members by (centroid-sim ASC,
    * vec_id ASC); a member is dropped iff some EARLIER-ranked member
    * scores above `tau` against it (earlier = kept-er; the rule does
    * not re-examine pairs after a drop). Two properties follow and
    * are asserted by PackingSpec:
    *   - no two KEPT members of a cluster are within `tau` of each
    *     other (if they were, the later-ranked one would have been
    *     dropped by the earlier);
    *   - every DROPPED member has an earlier-ranked witness above
    *     `tau` (by construction).
    *
    * Determinism: centroids are deterministic (md5-ordered seed
    * sample, fixed iterations, smallest-id ties), assignment breaks
    * centroid-score ties toward the smallest cid, similarities are
    * rounded to 9 decimals before any comparison — so the output is
    * bit-stable and golden-file gated (GoldenSpec). Not
    * SQL-expressible (iterative training), hence a rows-only driver
    * check, like the other trained operators.
    *
    * Scale shape: the corpus never all-pairs — pairwise work is
    * within-cluster only, one shuffle on `cid`, and `k` is DERIVED
    * from the corpus (`autoK`: k ≈ n/125, floor 16) so the per-task
    * join input stays ~target members at any size — bounded by
    * CONSTRUCTION, not by data luck, because k-means splits mass
    * wherever it concentrates (SemDeDup's ~100k clusters at web scale
    * is the same rule). The honest trade autoK makes: total pairwise
    * work drops to ~n·target/2, but the kernel-argmax ASSIGNMENT
    * pass costs n·k cosines — with k ∝ n that term is quadratic in
    * FLOPs. It is the right trade anyway because those FLOPs are
    * map-side and embarrassingly parallel (scale out with executors),
    * while fixed-k's alternative — single-task cluster joins growing
    * as (n/k)² — is the thing that OOMs and stragglers kill jobs
    * with. Measured at 10×: pinned k=16 grows pairs 100× and max
    * cluster to 1,307 (ScalingStats' deliberate exhibit); autoK
    * (k=160) keeps clusters target-bounded and beats it on wall-clock
    * too (3.35 vs 4.99 s, BASELINE.md). Beyond ~10⁷ vectors the n·k
    * assignment FLOPs take over — `assignViaIvf` is that regime's
    * path (probe nearest coarse buckets instead of scoring all k,
    * ~2·probe·√k per vector), agreement-gated by PackingSpec. The
    * rank window is per-cluster (same bound). Training cost is the
    * existing trainCentroids contract: 1 bounded-sample collect +
    * `iters` kernel-argmax passes. */
  // probeCoarse != 0 selects the sampled-training + IVF-probe regime
  // (see assigned()). Pass ProbeAuto unless you have a measured
  // reason: the adaptive dial (max(2, ceil(k'/4))) keeps coarse-space
  // COVERAGE constant as k grows, where a hand-picked small probe
  // silently loses routing fidelity at larger k (a fixed probe=2 fell
  // to 49.7% routing agreement at k=160/k'=13 — adaptive probe=4
  // restores it; BASELINE.md "IVF-probe" table). The dedup rule is
  // partition-agnostic — it needs a deterministic clustering, not an
  // optimal one — so the two structural guarantees hold unchanged on
  // that path too (PackingSpec asserts them on both), and PackingSpec
  // additionally gates exact-vs-probed KEEP/DROP verdict agreement at
  // the shipped ProbeAuto default.
  def semanticDedup(spark: SparkSession, dir: String,
                    k: Int = 0, tau: Double = DefaultTau,
                    iters: Int = 3, probeCoarse: Int = 0): DataFrame =
    if (k <= 0 && iters == 3 && probeCoarse == 0)
      // the shipped default path routes its (identical) training
      // through the oracle cache so the run's frozen centroids can
      // ride semanticDedupSql as a VALUES literal — the D3 upgrade
      // applied to I4. collect/createDataFrame round-trips the
      // doubles exactly and assignTo scores them with the same kernel,
      // so results are bit-identical to the former inline
      // trainCentroids call.
      dedupAssigned(spark,
        assignTo(spark,
          Tables.parallelized(spark, Tables.embeddings(spark, dir)),
          centsDf(spark, semCentCache.model(spark, dir))), tau)
    else dedupAssigned(spark, assigned(spark, dir, k, iters, probeCoarse), tau)

  /** Shipped similarity threshold for the dedup verdict. */
  val DefaultTau = 0.35

  /** Frozen I4 artifact for the oracle (the D3/P1/P2 convention):
    * autoK + trainCentroids over the run's embeddings, collected
    * (k rows × d doubles, bounded by MaxClusters at any corpus
    * size). model() ALWAYS retrains, so a bench rep pays the full
    * training cost and the oracle embeds exactly the centroids of
    * the run it is compared against. */
  private val semCentCache = new OracleModelCache[Array[(Int, Array[Double])]](
    (spark, dir) => {
      val emb = Tables.parallelized(spark, Tables.embeddings(spark, dir))
      val kk = autoK(emb.select("vec_id").count())
      SimilaritySearch.trainCentroids(spark, emb, kk, 3)
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
    })

  /** O5's trained-generation artifacts for the removal audit (M-series
    * v2): the I4 centroid trainer's frame form and its frozen oracle
    * literal — ONE trainer feeds the dedup, recall, and removal-audit
    * queries, so their cid label spaces agree. */
  private[graft] def trainedCentsDf(spark: SparkSession,
                                    dir: String): DataFrame =
    centsDf(spark, semCentCache.model(spark, dir))

  private[operators] def oracleCents(): Array[(Int, Array[Double])] =
    semCentCache.oracleModel()

  /** Exact-regime ceiling for corpus-sized centroid generations: at
    * or below it the frozen exact trainer runs (full-corpus Lloyd's,
    * the artifact the DuckDB oracles carry as literals — every gate
    * corpus sits far below); above it the generation switches to the
    * bounded-sample trainer + IVF-probe assignment this file already
    * ships for the big-n regime (the ProbeLab crossover, measured
    * 3.7× at 400k vectors — and at the organic 1000× probe the exact
    * regime's autoK = n/125 made the n·k Lloyd's passes and the
    * driver seeding an outright wall, BASELINE round-20). */
  private[graft] val ExactRegimeMaxVecs = 1000000L

  /** The O5 centroid generation at the corpus's own regime (the
    * standing artifact FromStages persists for the removal audits):
    * exact ≤ [[ExactRegimeMaxVecs]], bounded-sample trainer above.
    * Removal maintenance never retrains either way — this prices the
    * GENERATION the deployment refreshes at maintenance cadence. */
  private[graft] def trainedCentsAtScale(spark: SparkSession,
                                         dir: String): DataFrame = {
    val emb = Tables.parallelized(spark, Tables.embeddings(spark, dir))
      .select("vec_id", "embedding")
    val n = emb.select("vec_id").count()
    if (n <= ExactRegimeMaxVecs) trainedCentsDf(spark, dir)
    else {
      // k capped in this regime: autoK = n/125 is the dedup-granularity
      // heuristic, but the farthest-point seeding costs 8k² rounded
      // cosines — at autoK(2M) = 16k that is 2·10⁹ BigDecimal ops, a
      // measured wall even fanned across 32 threads (organic 1000×
      // probe). An ASSIGNMENT-INDEX generation doesn't need n/125
      // granularity (published SemDeDup ran fixed ~11k clusters at
      // 380M docs; cluster population is a serving-shard choice), so
      // the cap bounds seeding at 8·4096² ≈ 1.3·10⁸ and the sampled
      // Lloyd's at 32·k² regardless of n.
      val kk = math.min(autoK(n), 4096)
      val sample = SimilaritySearch.hashOrderedSample(emb, TrainPerCentroid * kk)
        .repartition(spark.sparkContext.defaultParallelism)
      SimilaritySearch.trainCentroids(spark, sample, kk, iters = 2)
        .localCheckpoint()
    }
  }

  /** Centroid count up to which [[assignAtScale]] runs the exact
    * argmax; moving it changes which vectors the IVF probe routes. */
  private[graft] val ExactAssignMaxK = 2048

  /** Assignment at the centroid table's own regime: the exact argmax
    * up to [[ExactAssignMaxK]] centroids, the coarse-quantized IVF
    * probe above it (where the n·k exact argmax is the measured wall).
    * Both are one `graft_cent_best` projection over the corpus; they
    * differ only in the candidate set each row scores. Decides on the
    * memoized collect, so it runs no count job. */
  private[graft] def assignAtScale(spark: SparkSession, emb: DataFrame,
                                   cents: DataFrame): DataFrame =
    if (centRowsOf(cents).length <= ExactAssignMaxK) assignTo(spark, emb, cents)
    else assignViaIvf(spark, emb, cents)

  /** DuckDB twin of the default-path [[semanticDedup]]: the trained
    * centroids as a VALUES literal, then assignment (round-9 cosine
    * DESC, ties to the smallest cid), the per-cluster
    * lowest-similarity-first rank, the within-cluster
    * earlier-ranked-witness drop rule at τ = [[DefaultTau]], and the
    * round-6 presentation — training itself sits under the hash gate
    * through the literal. A `def`: Verify dumps oracle SQL after the
    * queries run, so the literal is the exact last-run model.
    * NaN corner (all-zero vector / degenerate centroid) diverges by
    * construction and is absent from this data — the documented D3
    * invariant. */
  def semanticDedupSql: String = {
    val rows = centValuesSql(semCentCache.oracleModel())
    val cos = Vectors.cosineSql("e.embedding", "c.c_emb")
    val pairCos = Vectors.cosineSql("ea.embedding", "eb.embedding")
    s"""WITH cents(cid, c_emb) AS (VALUES
      |    $rows),
      |cscore AS (
      |  SELECT e.vec_id, c.cid, round($cos, 9) AS cs,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY round($cos, 9) DESC, c.cid) AS rk
      |  FROM embeddings e, cents c),
      |ranked AS (
      |  SELECT vec_id, cid, cs AS cent_sim,
      |    row_number() OVER (PARTITION BY cid ORDER BY cs, vec_id) AS rnk
      |  FROM cscore WHERE rk = 1),
      |dropped AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM ranked a JOIN ranked b ON a.cid = b.cid AND a.rnk < b.rnk
      |  JOIN embeddings ea ON ea.vec_id = a.vec_id
      |  JOIN embeddings eb ON eb.vec_id = b.vec_id
      |  WHERE round($pairCos, 9) > $DefaultTau)
      |SELECT r.vec_id, r.cid, round(r.cent_sim, 6) AS cent_sim,
      |  (d.vec_id IS NULL) AS keep
      |FROM ranked r LEFT JOIN dropped d ON d.vec_id = r.vec_id
      |ORDER BY r.vec_id""".stripMargin
  }

  /** The dedup rule over an already-assigned frame (vec_id, embedding,
    * cid, cent_sim). Package-visible so ProbeLab can measure verdict
    * agreement across assignment strategies under FIXED centroids —
    * the controlled experiment that separates probe-induced verdict
    * churn from training-sample churn. */
  private[graft] def dedupAssigned(spark: SparkSession, assignedVecs: DataFrame,
                                   tau: Double): DataFrame = {
    val ranked = assignedVecs.withColumn("rk",
      row_number().over(Window.partitionBy("cid")
        .orderBy(col("cent_sim").asc, col("vec_id").asc)))
      // one shuffle on cid feeds the window, the self-join, and the
      // verdict join below — localCheckpoint flattens the k-means
      // lineage so the three consumers re-read a materialized frame
      // instead of re-running training
      .localCheckpoint()

    // within-cluster pairs against earlier-ranked members only
    val a = ranked.select(col("cid"), col("rk").as("rk_a"),
      col("embedding").as("emb_a"))
    val b = ranked.select(col("cid"), col("vec_id"), col("rk").as("rk_b"),
      col("embedding").as("emb_b"))
    val dropped = a.join(b, Seq("cid"))
      .where(col("rk_a") < col("rk_b") &&
        round(Vectors.cosineFast(spark, col("emb_a"), col("emb_b")), 9) > tau)
      .select(col("vec_id")).distinct()

    ranked.join(dropped.withColumn("drop", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        round(col("cent_sim"), 6).as("cent_sim"),
        coalesce(!col("drop"), lit(true)).as("keep"))
      .orderBy("vec_id")
  }

  /** I6: INCREMENTAL semantic dedup — a new batch of vectors against
    * an already-deduped corpus, the asymmetric shape of
    * [[Dedup.incrementalDedup]] (H4) lifted to embedding space. The
    * production contract for a growing corpus:
    *
    *   - centroids are trained on (a deterministic hash-split of) the
    *     OLD corpus only — the index predates the batch, exactly like
    *     H4's corpus band index;
    *   - old verdicts NEVER change: the kept-old set is the batch-mode
    *     [[semanticDedup]] of the old corpus alone;
    *   - a new vector is dropped iff it scores above `tau` against a
    *     KEPT old member of its (old-centroid) cluster. New-vs-new
    *     duplicates are the batch's own semanticDedup pass — composable,
    *     and out of scope here by the same rule H4 uses (new-vs-old
    *     only).
    *
    * Cost per batch: one kernel assignment pass over the
    * batch + one cid-key join against kept-old cluster members —
    * nothing touches the old corpus beyond the (cacheable) kept set.
    * Output: one row per batch vector with its witness stats. */
  /** The deterministic 20% hash split that stands in for "a new batch
    * arrives" — same device as H4's BatchSalt split. */
  private[graft] def isNewVec(c: Column): Column =
    Sampling.hashBucket(c, "vecbatch") < Sampling.pctThreshold(20)

  /** The (cid, old_id, old_emb) kept-corpus index the batch probes —
    * exposed so the spec can assert the witness properties against
    * the operator's OWN kept set. */
  private[graft] def incrementalKeptOld(spark: SparkSession, old: DataFrame,
                                        cents: DataFrame, tau: Double): DataFrame =
    dedupAssigned(spark, assignTo(spark, old, cents), tau)
      .where(col("keep"))
      .select(col("cid"), col("vec_id").as("old_id"))
      .join(old.select(col("vec_id").as("old_id"),
        col("embedding").as("old_emb")), Seq("old_id"))

  def semanticDedupIncremental(spark: SparkSession, dir: String,
                               k: Int = 0, tau: Double = 0.35,
                               iters: Int = 3): DataFrame = {
    val emb = Tables.parallelized(spark, Tables.embeddings(spark, dir))
    val old = emb.where(!isNewVec(col("vec_id")))
    val batch = emb.where(isNewVec(col("vec_id")))

    val kk = if (k > 0) k else autoK(old.select("vec_id").count())
    val cents = SimilaritySearch.trainCentroids(spark, old, kk, iters)
    val keptOld = incrementalKeptOld(spark, old, cents, tau)

    // assign ONCE: the n·k kernel-argmax pass is the dominant cost
    // at autoK scale, and both the match probe and the output frame
    // consume it — localCheckpoint so the two consumers re-read a
    // materialized frame (the dedupAssigned precedent)
    val batchAssigned = assignTo(spark, batch, cents).localCheckpoint()

    val matches = batchAssigned
      .join(keptOld, Seq("cid"))
      .where(round(Vectors.cosineFast(spark, col("embedding"), col("old_emb")), 9) > tau)
      .groupBy("vec_id")
      .agg(countDistinct(col("old_id")).as("n_old_matches"),
        min(col("old_id")).as("first_old_match"))

    batchAssigned
      .select(col("vec_id"), col("cid"))
      .join(matches, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("n_old_matches"), lit(0L)).as("n_old_matches"),
        col("first_old_match"),
        (coalesce(col("n_old_matches"), lit(0L)) === 0).as("keep"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- O5
  /** O5: delta-maintained IVF assignment index — the L4/N6 CDC
    * maintenance pattern applied to the vector index itself. A 100 TB
    * vector store re-ingests a sliver of its corpus daily; recomputing
    * every vector's nearest-centroid assignment to serve D2/D3 probes
    * or I6 incremental dedup would re-pay the full n·k argmax for a
    * 10⁻³ delta. Under a FROZEN centroid generation the assignment is
    * per-row independent, so maintenance is even simpler than L4's
    * (which must re-window touched groups): departed/changed vectors
    * leave by anti-join on their ids, arrived/changed vectors are the
    * ONLY rows that touch an embedding — one `assignTo` pass over
    * the delta, O(|delta|·k) work total, zero reads of unchanged
    * embeddings (the OSeriesSpec poison-proof corrupts every
    * non-delta embedding and the maintained index must still equal
    * the intact full rebuild).
    *
    * Centroid-generation contract, stated rather than hidden: the
    * maintained index answers for the centroids it was built with.
    * Retraining (drift refresh) is a new generation — one full
    * `assignTo` pass, after which delta maintenance resumes.
    * `assignTo` is one per-row kernel, so a row's assignment does
    * not depend on which frame it was scored in: maintained and
    * rebuilt rows are bit-identical, not merely close.
    *
    * @param oldAssigned prior (vec_id, embedding, cid, cent_sim) index
    * @param newEmb      the new corpus (vec_id, embedding)
    * @param delta       CDC rows (vec_id, change ∈ added|removed|changed)
    * @param cents       the frozen centroid frame of this generation */
  def maintainAssignments(spark: SparkSession, oldAssigned: DataFrame,
                          newEmb: DataFrame, delta: DataFrame,
                          cents: DataFrame): DataFrame = {
    val gone = delta.where(col("change").isin("removed", "changed"))
      .select(col("vec_id"))
    val arrived = delta.where(col("change").isin("added", "changed"))
      .select(col("vec_id"))
    val surviving = oldAssigned.join(gone, Seq("vec_id"), "left_anti")
      .select("vec_id", "embedding", "cid", "cent_sim")
    // the only embedding read in the whole maintenance pass
    val fresh = assignTo(spark,
      newEmb.join(arrived, Seq("vec_id"), "left_semi")
        .select("vec_id", "embedding"), cents)
      .select("vec_id", "embedding", "cid", "cent_sim")
    surviving.unionByName(fresh)
  }

  /** Retrain trigger for [[maintainAssignments]]' frozen-generation
    * contract — the piece that completes the CDC maintenance story:
    * delta maintenance is exact FOR THE CENTROIDS IT WAS BUILT WITH,
    * but a drifting corpus slowly makes those centroids a bad
    * quantizer, and nothing in the per-row maintenance can see it.
    * The gate reads two population-level signals off the maintained
    * index itself (no embedding is touched):
    *
    *  - `tv_distance`: total-variation distance between the old and
    *    maintained per-centroid population distributions (the K6
    *    drift device applied to assignments) — catches mass MOVING
    *    between buckets;
    *  - `mean_sim_old` / `mean_sim_new`: mean assignment cosine —
    *    catches mass moving AWAY from every centroid (new content in
    *    a region no centroid covers raises TV little but drops the
    *    mean residual fit).
    *
    * `refresh` fires when TV clears [[DriftTvBar]] or the mean
    * assignment cosine fell by more than [[DriftSimDrop]]. Cost: two
    * ≤k-row aggregations off n-row scans + a k-row join — nothing at
    * corpus scale beyond one pass over each index frame. */
  val DriftTvBar = 0.20
  val DriftSimDrop = 0.05

  def assignmentDrift(oldAssigned: DataFrame, newAssigned: DataFrame): DataFrame = {
    def dist(df: DataFrame, p: String) = df
      .groupBy("cid").agg(count(lit(1)).as(s"n_$p"))
      .crossJoin(broadcast(df.agg(count(lit(1)).as(s"tot_$p"))))
      .select(col("cid"),
        (col(s"n_$p").cast("double") / col(s"tot_$p")).as(s"p_$p"))
    val tv = dist(oldAssigned, "old")
      .join(dist(newAssigned, "new"), Seq("cid"), "full_outer")
      .agg((sum(abs(coalesce(col("p_old"), lit(0.0)) -
        coalesce(col("p_new"), lit(0.0)))) / 2.0).as("tv_distance"))
    val sims = oldAssigned.agg(avg("cent_sim").as("mean_sim_old"))
      .crossJoin(newAssigned.agg(avg("cent_sim").as("mean_sim_new")))
    tv.crossJoin(sims)
      .select(col("tv_distance"), col("mean_sim_old"), col("mean_sim_new"),
        (col("tv_distance") > DriftTvBar ||
          col("mean_sim_old") - col("mean_sim_new") > DriftSimDrop)
          .as("refresh"))
  }

  /** The boolean the maintenance loop consumes: true ⇒ this
    * generation is done — retrain centroids (one full `assignTo`
    * pass), then resume delta maintenance. */
  def needsRefresh(oldAssigned: DataFrame, newAssigned: DataFrame): Boolean =
    assignmentDrift(oldAssigned, newAssigned).head().getBoolean(3)

  /** One generation of the maintained index: the assignment frame, the
    * frozen centroids it answers for, and the generation counter the
    * refresh bumps. Callers persist `assigned`/`cents` between deltas
    * (at scale: the D7 `cid=`-partitioned layout). */
  final case class MaintainedIndex(assigned: DataFrame, cents: DataFrame,
                                   generation: Int,
                                   refreshed: Boolean = false)

  /** The maintenance DRIVER that closes O5's loop: apply one CDC delta
    * (an O(|delta|·k) [[maintainAssignments]] pass), read the drift
    * gate off the maintained index itself, and on a tripped gate
    * retrain generation g+1 ON THE MAINTAINED CORPUS and re-assign —
    * one full `assignTo` pass, after which delta maintenance resumes
    * against the new centroids. Deterministic end to end (the trainer
    * is seeded, the tie rule shared), so a refresh is bit-identical to
    * training from scratch on the same corpus — OSeriesSpec drives
    * drift → refresh → equality with the from-scratch rebuild.
    *
    * The gate compares against THIS delta's pre-state, so `refreshed`
    * reports what this invocation did; a slow multi-delta drift is
    * caught by the caller retaining a reference generation (the K6
    * monitoring discipline) — the spec's planted drift is the
    * single-delta regime. */
  def maintainWithRefresh(spark: SparkSession, index: MaintainedIndex,
                          newEmb: DataFrame, delta: DataFrame,
                          k: Int = 0, iters: Int = 3): MaintainedIndex = {
    val maintained =
      maintainAssignments(spark, index.assigned, newEmb, delta, index.cents)
        .localCheckpoint()
    if (!needsRefresh(index.assigned, maintained))
      index.copy(assigned = maintained, refreshed = false)
    else {
      val corpus = maintained.select("vec_id", "embedding")
      val kk = if (k > 0) k else autoK(corpus.count())
      val nextCents = SimilaritySearch.trainCentroids(spark, corpus, kk, iters)
        .localCheckpoint()
      MaintainedIndex(assignTo(spark, corpus, nextCents), nextCents,
        index.generation + 1, refreshed = true)
    }
  }

  // ------------------------------------------------- semantic recall
  /** Fixed probe size for the semantic recall curve — fixed-COUNT,
    * never corpus-scaled (the J3/W2 lesson), so the eval costs the
    * same at any corpus size. */
  val SemProbeN = 256
  private val semRecallSalt = "semrecall"

  /** Semantic dedup-quality eval — W2's measured-S-curve idea applied
    * to I4's candidate generator: SemDeDup only COMPARES pairs that
    * land in the same trained k-means cluster, so the clustering is a
    * candidate filter exactly like C2's band family, and its measured
    * quality is P(same cluster | cosine decile) over a fixed 256-
    * vector hash probe. Recall@τ for I4's τ = [[DefaultTau]] reads
    * off the top deciles (the fraction of would-be duplicates the
    * cluster partition actually lets the verify rule see — SemDeDup's
    * known blind spot is near-dup pairs straddling a cluster
    * boundary); the bottom deciles' p_collide is the wasted
    * within-cluster verify load.
    *
    * Scale shape: corpus-scale work is the centroid trainer (shared,
    * priced under I4) + one TakeOrdered(256) probe draw; assignment
    * runs on 256 rows against the broadcast centroid table and
    * everything after is ≤32,640 pairs — constant at any corpus size.
    * Engine determinism: pair cosine rounded to 9 dp before the
    * decile arithmetic `(c+1)*5` (identical literal ops on identical
    * doubles); assignment is the shared round-9 argmax with ties to
    * the smallest cid; the frozen centroids ride the oracle as VALUES
    * literals (the I4 convention). */
  def semanticRecall(spark: SparkSession, dir: String): DataFrame = {
    val cents = centsDf(spark, semCentCache.model(spark, dir))
    val probe = Tables.embeddings(spark, dir)
      .orderBy(Sampling.hashBucket(col("vec_id"), semRecallSalt),
        col("vec_id"))
      .limit(SemProbeN)
      .localCheckpoint() // bounded 256 rows, three consumers
    val cid = assignTo(spark, probe, cents).select("vec_id", "cid")
    val pairs = probe
      .select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
      .join(broadcast(probe.select(col("vec_id").as("vec_b"),
        col("embedding").as("emb_b"))), col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(Vectors.cosineFast(spark, col("emb_a"), col("emb_b")), 9)
          .as("c9"))
    pairs
      .join(broadcast(cid.select(col("vec_id").as("vec_a"),
        col("cid").as("cid_a"))), Seq("vec_a"))
      .join(broadcast(cid.select(col("vec_id").as("vec_b"),
        col("cid").as("cid_b"))), Seq("vec_b"))
      .select(
        least(floor((col("c9") + 1) * 5).cast("int"), lit(9))
          .as("cos_decile"),
        when(col("cid_a") === col("cid_b"), 1L).otherwise(0L).as("c"))
      .groupBy("cos_decile")
      .agg(count(lit(1)).as("n_pairs"), sum(col("c")).as("n_collide"))
      .select(col("cos_decile"), col("n_pairs"), col("n_collide"),
        round(col("n_collide").cast("double") / col("n_pairs"), 6)
          .as("p_collide"))
      .orderBy("cos_decile")
  }

  /** DuckDB twin: frozen centroids as VALUES literals, the same
    * round-9 argmax assignment over the probe, the same decile
    * arithmetic. */
  def semanticRecallSql: String = {
    val rows = centValuesSql(semCentCache.oracleModel())
    val hb = Sampling.hashBucketSql("CAST(vec_id AS VARCHAR)", semRecallSalt)
    val cos = Vectors.cosineSql("e.embedding", "c.c_emb")
    val pairCos = Vectors.cosineSql("a.embedding", "b.embedding")
    s"""WITH cents(cid, c_emb) AS (VALUES
      |    $rows),
      |probe AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  ORDER BY $hb, vec_id LIMIT $SemProbeN),
      |assigned AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT e.vec_id, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY round($cos, 9) DESC, c.cid) AS rk
      |    FROM probe e, cents c) t
      |  WHERE rk = 1),
      |p AS (
      |  SELECT least(CAST(floor((round($pairCos, 9) + 1) * 5) AS INT), 9)
      |      AS cos_decile,
      |    CASE WHEN ca.cid = cb.cid THEN 1 ELSE 0 END AS c
      |  FROM probe a JOIN probe b ON a.vec_id < b.vec_id
      |  JOIN assigned ca ON ca.vec_id = a.vec_id
      |  JOIN assigned cb ON cb.vec_id = b.vec_id)
      |SELECT cos_decile, CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(sum(c) AS BIGINT) AS n_collide,
      |  round(CAST(sum(c) AS DOUBLE) / count(*), 6) AS p_collide
      |FROM p GROUP BY cos_decile ORDER BY cos_decile""".stripMargin
  }
}
