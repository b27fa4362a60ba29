package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** P2: a TRAINED quality classifier — the CCNet-style recipe (weak
  * labels from an existing signal, logistic regression over hashed
  * text features) run entirely in-engine, so the quality gate a
  * production pipeline ships is a LEARNED model rather than E2's
  * fixed-weight heuristic.
  *
  * Features: hashed token-presence — each distinct word maps to one of
  * [[Dim]] buckets via the portable salted-md5 hash
  * (`Sampling.hashBucket` % Dim), plus a constant bias feature at index
  * Dim. Weak labels come from E2's score bands: top-band docs are
  * positives, bottom-band negatives, the middle is excluded (the
  * standard weak-supervision trick — train only where the teacher is
  * confident).
  *
  * Training is full-batch gradient descent as DataFrame aggregation:
  * each step scores every labeled doc against the current weights
  * (a NARROW fold over its sorted feature list — the weight vector
  * rides the plan as a literal array, O(1) lookups) and aggregates
  * the per-feature gradient Σ x·(σ(w·x) − y) with one explode +
  * groupBy(feature) — a ≤Dim+1-row result collected per step (the
  * bounded-model-artifact discipline: the MODEL is driver-sized, the
  * DATA never is). [[Iters]] steps = Iters jobs, independent of
  * corpus size; at 100 TB the labeled band sample would be hash-
  * bounded first (G1), same plan.
  *
  * The frozen weights ride the ORACLE as a literal list, and both
  * engines fold the margin over the SAME sorted feature order, so the
  * learned model itself sits inside the hash-compare gate (the P1
  * convention). Scoring is one narrow pass: no join, no shuffle.
  *
  * Why it beats the teacher where it matters: E2 scores TYPE DIVERSITY
  * up — random-character gibberish has perfect type-token ratio and
  * lands ABOVE clean prose. The classifier scores word IDENTITY:
  * gibberish hits untrained hash buckets (weight ≈ 0) and drops to
  * the bias floor. QualityClassifierSpec gates AUC ≥ 0.95 on the
  * planted-gibberish fixture where the E2 teacher itself scores ~0. */
object QualityClassifier {

  /** Hashed feature space (bias lives at index Dim). */
  val Dim = 512
  /** E2 weak-label bands (measured sf0.01 quartiles: ~0.48 / ~0.56). */
  val BandHi = 0.56
  val BandLo = 0.48
  val Iters = 30
  val Lr = 1.0
  /** Training-set bound: the banded docs are hash-capped at this many
    * rows (salted-md5 order — the k-means/PQ bounded-sample
    * discipline). Without it, per-step training cost grows LINEARLY
    * with the corpus forever; a classifier needs a representative
    * sample, not the corpus — 10⁵ labeled docs saturate a 513-weight
    * model by any learning-theory measure. Below the cap (every test
    * SF) training data is unchanged. */
  val TrainCap = 100000
  private val Salt = "qc"

  case class QcModel(weights: IndexedSeq[Double], nTrain: Long,
                     trainMillis: Long)

  /** Sorted distinct hashed features of a text column, bias appended
    * (Dim sorts last — every real feature is < Dim). */
  private def featsOf(text: Column): Column =
    array_sort(array_distinct(concat(
      transform(split(text, " "), w =>
        (Sampling.hashBucket(w, Salt) % Dim).cast("int")),
      array(lit(Dim)))))

  private def featsOfSql(text: String): String =
    s"list_sort(list_distinct(list_append(" +
      s"list_transform(string_split($text, ' '), x -> " +
      s"CAST(${Sampling.hashBucketSql("x", Salt)} % $Dim AS INT)), $Dim)))"

  /** Margin fold over the sorted feature list — SEQUENTIAL, so the
    * oracle's identical fold sums in the identical order. The weight
    * vector rides as ONE array literal (`lit(Array[Double])`), not a
    * 513-child CreateArray: same doubles, same element_at lookups,
    * but the analyzer/optimizer walk one node per step instead of 513
    * (the training loop re-plans this expression Iters times per
    * rep). */
  private def marginOf(feats: Column, w: IndexedSeq[Double]): Column =
    aggregate(feats, lit(0.0), (acc, i) =>
      acc + element_at(lit(w.toArray), i + 1))

  // --------------------------------------------------------- training
  /** Per-dir last-trained cache + dump-only fallback (shared
    * [[OracleModelCache]] plumbing — see its scaladoc for why model()
    * always retrains and what the oracle embeds). */
  private val cache = new OracleModelCache[QcModel](
    (spark, dir) => train(spark, Tables.documents(spark, dir)))

  def model(spark: SparkSession, dir: String): QcModel =
    cache.model(spark, dir)

  private[graft] def train(spark: SparkSession, docs: DataFrame): QcModel = {
    val t0 = System.nanoTime()
    val q = TextAnalysis.qualityScore(col("text"))
    // bounded sample: smallest TrainCap by salted md5 — TakeOrdered,
    // deterministic, identical below the cap. The global limit
    // funnels the survivors through ONE task (bounded: ≤TrainCap
    // feature rows), so re-spread them before the gradient steps —
    // without the repartition all 30 steps ran single-partition
    // (measured 3× SLOWER than the uncapped 250k-row training).
    val base = docs
      .select(col("doc_id"), featsOf(col("text")).as("feats"), q.as("q"))
      .where(col("q") >= BandHi || col("q") <= BandLo)
      .orderBy(md5(concat(col("doc_id").cast("string"), lit(":qctrain"))))
      .limit(TrainCap)
      .select(col("feats"), when(col("q") >= BandHi, 1.0).otherwise(0.0).as("y"))
      .repartition(spark.sparkContext.defaultParallelism)
    // The 30 sequential gradient steps run over a PERSISTED compact
    // RDD of the sample, one lightweight RDD job per step, not one
    // DataFrame action per step: the step's work is microseconds of
    // float math, but a DataFrame collect costs ~60-90 ms of query
    // machinery (analysis/optimization/AQE/collect plumbing — a
    // measured `spark.range(32).count()` floor on this class of
    // host), so the former explode+groupBy step shape priced 30 ×
    // ~220 ms ≈ 6.6 s per training at EVERY scale. Per-row math is
    // unchanged (same sequential margin fold over the sorted feature
    // list, same sigmoid residual); per-feature sums accumulate in
    // row order within each partition and merge in PARTITION-INDEX
    // order driver-side (≤ Dim+1 doubles per partition — model-grain,
    // the bounded-artifact discipline), which is deterministic where
    // the former shuffled-fetch merge order was not.
    val rows = base.queryExecution.toRdd.mapPartitions { it =>
      // InternalRow: feats as ArrayData of ints, y as double
      it.map { r =>
        val a = r.getArray(0)
        (a.toIntArray(), r.getDouble(1))
      }
    }
    rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = rows.count()
    require(n > 0, "no docs in the confident label bands — cannot train")
    val w = Array.fill(Dim + 1)(0.0)
    var step = 0
    while (step < Iters) {
      val wB = w.clone()
      val parts = rows.mapPartitionsWithIndex { (pi, it) =>
        val g = new Array[Double](wB.length)
        it.foreach { case (fs, y) =>
          var m = 0.0
          var j = 0
          while (j < fs.length) { m += wB(fs(j)); j += 1 }
          val r = 1.0 / (1.0 + math.exp(-m)) - y
          j = 0
          while (j < fs.length) { g(fs(j)) += r; j += 1 }
        }
        Iterator((pi, g))
      }.collect()
      java.util.Arrays.sort(parts, java.util.Comparator.comparingInt((p: (Int, Array[Double])) => p._1))
      val g = new Array[Double](w.length)
      parts.foreach { case (_, pg) =>
        var i = 0
        while (i < g.length) { g(i) += pg(i); i += 1 }
      }
      var i = 0
      while (i < w.length) { w(i) -= Lr * g(i) / n; i += 1 }
      step += 1
    }
    rows.unpersist(blocking = false)
    QcModel(w.toIndexedSeq, n, (System.nanoTime() - t0) / 1000000L)
  }

  // ---------------------------------------------------------- scoring
  /** P2's scoring query: every doc's learned quality probability and
    * the keep verdict at 0.5 — one narrow pass under frozen weights. */
  def classify(spark: SparkSession, dir: String): DataFrame = {
    val m = model(spark, dir)
    classifyFrom(Tables.documents(spark, dir), m)
  }

  /** Scoring over an arbitrary (doc_id, text) frame — stream-safe
    * (narrow, stateless), the frozen-artifact convention; the
    * presentation sort applies only on batch frames (a global sort is
    * not append-streamable — StreamingModelScoringSpec pins the
    * stream-vs-batch row equality). */
  def classifyFrom(docs: DataFrame, m: QcModel): DataFrame = {
    val scored = docs
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-marginOf(featsOf(col("text")),
          m.weights))), 6).as("qc_score"))
      .withColumn("keep", col("qc_score") >= 0.5)
    if (docs.isStreaming) scored else scored.orderBy("doc_id")
  }

  /** DuckDB twin — frozen weights as a literal list, margin folded
    * over the SAME sorted feature order (data-dependent by necessity,
    * the P1 oracle convention). */
  def classifySql: String = {
    val m = oracleModel()
    // Double.toString: shortest round-trip decimal, parses back to the
    // exact bits on any IEEE reader
    val wlist = m.weights.map(v => java.lang.Double.toString(v))
      .mkString("[", ", ", "]")
    s"""WITH d AS (
      |  SELECT doc_id, ${featsOfSql("text")} AS feats FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    round(1.0 / (1.0 + exp(-(
      |      list_sum(list_transform(feats, i -> list_extract($wlist, i + 1)))))), 6)
      |      AS qc_score
      |  FROM d)
      |SELECT doc_id, qc_score, qc_score >= 0.5 AS keep
      |FROM s ORDER BY doc_id""".stripMargin
  }

  private def oracleModel(): QcModel = cache.oracleModel()

  // ------------------------------------------------------ calibration
  /** S4: reliability report for the trained classifier — the
    * model-evaluation step a production quality gate ships with
    * (Guo et al. 2017, On Calibration of Modern Neural Networks:
    * fixed-width confidence bins, per-bin mean confidence vs observed
    * positive rate; Σ n_b/N·|gap_b| is ECE). Evaluated against the E2
    * weak labels on the CONFIDENT bands only — the universe P2 trains
    * in; the middle band has no label to calibrate against and is
    * excluded, stated rather than imputed.
    *
    * Scale shape: one narrow scoring pass (frozen literal weights, the
    * P2 device) + one ≤10-row aggregation; nothing leaves doc grain
    * until the bin groupBy collapses map-side. Determinism: p is
    * rounded to 6 dp BEFORE binning (both engines bin identical
    * doubles; ⌊p·10⌋ clamped to bin 9), per-bin means re-round. */
  def calibration(spark: SparkSession, dir: String): DataFrame =
    calibrationFrom(Tables.documents(spark, dir), model(spark, dir))

  def calibrationFrom(docs: DataFrame, m: QcModel): DataFrame = {
    val q = TextAnalysis.qualityScore(col("text"))
    docs
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-marginOf(featsOf(col("text")),
          m.weights))), 6).as("p"),
        when(q >= BandHi, 1).when(q <= BandLo, 0).as("y"))
      .where(col("y").isNotNull)
      .withColumn("bin", least(floor(col("p") * 10), lit(9L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        round(avg("p"), 6).as("avg_p"),
        round(avg(col("y").cast("double")), 6).as("frac_pos"))
      .withColumn("abs_gap", round(abs(col("avg_p") - col("frac_pos")), 6))
      .orderBy("bin")
  }

  def calibrationSql: String = {
    val m = oracleModel()
    val wlist = m.weights.map(v => java.lang.Double.toString(v))
      .mkString("[", ", ", "]")
    val q = TextAnalysis.qualityScoreSql("text")
    s"""WITH d AS (
      |  SELECT doc_id, ${featsOfSql("text")} AS feats, $q AS q
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    round(1.0 / (1.0 + exp(-(
      |      list_sum(list_transform(feats, i -> list_extract($wlist, i + 1)))))), 6)
      |      AS p,
      |    CASE WHEN q >= $BandHi THEN 1
      |         WHEN q <= $BandLo THEN 0 END AS y
      |  FROM d),
      |b AS (
      |  SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin, p, y
      |  FROM s WHERE y IS NOT NULL)
      |SELECT bin, count(*) AS n,
      |  round(avg(p), 6) AS avg_p,
      |  round(avg(CAST(y AS DOUBLE)), 6) AS frac_pos,
      |  round(abs(round(avg(p), 6) - round(avg(CAST(y AS DOUBLE)), 6)), 6)
      |    AS abs_gap
      |FROM b GROUP BY bin
      |ORDER BY bin""".stripMargin
  }
}
