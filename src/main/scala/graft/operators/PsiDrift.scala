package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Y4: population stability index — the industry-standard score-
  * distribution drift monitor (standard credit-risk practice; see
  * e.g. Yurdakul 2018 for its statistical treatment): bin a model
  * score into FIXED bands, compare the band proportions of the
  * current population against a reference population, and read
  * PSI = Σ_b (p_cur,b − p_ref,b) · ln(p_cur,b / p_ref,b) against the
  * published bands (<0.1 stable, 0.1–0.25 drifting, >0.25 shifted).
  * Complements K6, which measures token-DISTRIBUTION divergence per
  * source against the corpus; PSI measures a SCORE distribution over
  * time — the signal that says "retrain/recalibrate the quality
  * gate" (P2/S4) before its threshold silently moves.
  *
  * Populations: reference = the standing corpus, current = the
  * arriving 20% hash batch (the H4 device — in production the two
  * sides are consecutive monitoring windows). Score = E2's quality
  * score; bins are FIXED tenths of [0,1] (never quantiles — fixed
  * edges keep the bin of a doc a pure function of its text, exact in
  * both engines). Proportions are Laplace-smoothed exact rationals
  * ((n_b + 1)/(N + B) — ln never sees 0), and the ten PSI terms sum
  * in one EXPLICIT left-associative chain, never through an
  * aggregation whose float order is nondeterministic.
  *
  * Scale shape: one narrow scan into a source-grain aggregation of
  * 2·[[PsiBins]] integer conditional counts; everything after is
  * #sources-row arithmetic. Output: one row per source. */
object PsiDrift {

  val PsiBins = 10
  val StableBar = 0.1
  val ShiftBar = 0.25
  /** Small-sample guard: below this population on either side the
    * index is sampling noise, not signal — the expected PSI of two
    * i.i.d. samples is ≈ (B−1)·(1/n_cur + 1/n_ref), which already
    * CROSSES the 0.25 alarm bar at n ≈ 45 — so the verdict reads
    * `low_n` instead of crying wolf (the standard practitioner
    * caveat on PSI minimum counts). */
  val MinN = 100L
  private val BatchSalt = "psibatch"

  private def isNewBatch(c: Column): Column =
    Sampling.hashBucket(c, BatchSalt) < Sampling.pctThreshold(20)

  def psiDrift(spark: SparkSession, dir: String): DataFrame =
    psiDriftFrom(Tables.documents(spark, dir))

  /** The fixed-band bin of the quality score. */
  private def binOf: Column = {
    val score = TextAnalysis.qualityScore(col("text"))
    least(floor(score * PsiBins).cast("int"), lit(PsiBins - 1))
  }

  /** (source, b)-grain integer band counts of a doc population — the
    * persistable reference artifact of the streaming monitor (Y7). */
  def bandCounts(docs: DataFrame): DataFrame =
    docs.select(col("source"), binOf.as("b"))
      .groupBy("source", "b").agg(count(lit(1L)).as("c"))

  /** Widen tagged (source, b, c, nw) counts into the one-row-per-source
    * (n_ref, n_cur, r_0.., c_0..) frame the PSI chain reads. Shared by
    * the batch form and the per-micro-batch streaming form, so the two
    * cannot diverge arithmetically. */
  private def widen(tagged: DataFrame): DataFrame = {
    val aggs =
      sum(when(!col("nw"), col("c")).otherwise(0L)).as("n_ref") +:
        sum(when(col("nw"), col("c")).otherwise(0L)).as("n_cur") +:
        (0 until PsiBins).flatMap(b => Seq(
          sum(when(!col("nw") && col("b") === b, col("c")).otherwise(0L))
            .as(s"r_$b"),
          sum(when(col("nw") && col("b") === b, col("c")).otherwise(0L))
            .as(s"c_$b")))
    tagged.groupBy("source").agg(aggs.head, aggs.tail: _*)
  }

  /** The PSI arithmetic over a widened count frame: Laplace-smoothed
    * exact rationals, ten terms in one explicit left-assoc chain. */
  private def psiTail(counted: DataFrame): DataFrame = {
    def pRef(b: Int) =
      (col(s"r_$b") + 1).cast("double") / (col("n_ref") + PsiBins)
    def pCur(b: Int) =
      (col(s"c_$b") + 1).cast("double") / (col("n_cur") + PsiBins)
    def term(b: Int) = (pCur(b) - pRef(b)) * log(pCur(b) / pRef(b))
    // explicit left-assoc chain: both engines add the ten terms in
    // the identical order
    val psi = round((1 until PsiBins).foldLeft(term(0))(_ + term(_)), 6)
    counted.select(col("source"), col("n_ref"), col("n_cur"),
        psi.as("psi"))
      .withColumn("verdict",
        when(col("n_ref") < MinN || col("n_cur") < MinN, "low_n")
          .when(col("psi") < StableBar, "stable")
          .when(col("psi") <= ShiftBar, "drifting")
          .otherwise("shifted"))
  }

  /** PSI of an arriving population's band counts against a standing
    * reference's — the per-micro-batch body of the streaming monitor,
    * and exactly the batch arithmetic (`widen` + `psiTail`). */
  def psiOfCounts(refCounts: DataFrame, curCounts: DataFrame): DataFrame =
    psiTail(widen(
      refCounts.select(col("source"), col("b"), col("c"), lit(false).as("nw"))
        .unionByName(
          curCounts.select(col("source"), col("b"), col("c"),
            lit(true).as("nw")))))
      .orderBy("source")

  /** Y7: the streaming monitor's per-micro-batch body — an arriving
    * doc frame is banded and scored against the standing reference
    * counts (a persisted bounded artifact, ≤ #sources·[[PsiBins]]
    * rows, refreshed on the batch cadence — the M3 frozen-artifact
    * convention). Drive it from `writeStream.foreachBatch`; because it
    * IS [[psiOfCounts]], stream and batch PSI cannot diverge
    * arithmetically (pinned in PsiDriftSpec). */
  def psiMicroBatch(batch: DataFrame, refCounts: DataFrame): DataFrame =
    psiOfCounts(refCounts, bandCounts(batch))

  def psiDriftFrom(docs: DataFrame): DataFrame =
    psiTail(widen(
      docs.select(col("source"), binOf.as("b"),
          isNewBatch(col("doc_id")).as("nw"))
        .groupBy("source", "b", "nw").agg(count(lit(1L)).as("c"))))
      .orderBy("source")

  def psiDriftSql: String = {
    val q = TextAnalysis.qualityScoreSql("text")
    val hb = Sampling.hashBucketSql("CAST(doc_id AS VARCHAR)", BatchSalt)
    val sums = (0 until PsiBins).flatMap(b => Seq(
      s"CAST(sum(CASE WHEN NOT nw AND b = $b THEN 1 ELSE 0 END) AS BIGINT) AS r_$b",
      s"CAST(sum(CASE WHEN nw AND b = $b THEN 1 ELSE 0 END) AS BIGINT) AS c_$b"))
      .mkString(",\n      |    ")
    def pRef(b: Int) = s"(CAST(r_$b + 1 AS DOUBLE) / (n_ref + $PsiBins))"
    def pCur(b: Int) = s"(CAST(c_$b + 1 AS DOUBLE) / (n_cur + $PsiBins))"
    def term(b: Int) = s"(${pCur(b)} - ${pRef(b)}) * ln(${pCur(b)} / ${pRef(b)})"
    val psi = (1 until PsiBins).foldLeft(term(0))((acc, b) => s"$acc + ${term(b)}")
    s"""WITH d AS (
      |  SELECT source,
      |    least(CAST(floor($q * $PsiBins) AS INT), ${PsiBins - 1}) AS b,
      |    $hb < ${Sampling.pctThreshold(20)} AS nw
      |  FROM documents),
      |m AS (
      |  SELECT source,
      |    CAST(sum(CASE WHEN NOT nw THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
      |    CAST(sum(CASE WHEN nw THEN 1 ELSE 0 END) AS BIGINT) AS n_cur,
      |    $sums
      |  FROM d GROUP BY source)
      |SELECT source, n_ref, n_cur,
      |  round($psi, 6) AS psi,
      |  CASE WHEN n_ref < $MinN OR n_cur < $MinN THEN 'low_n'
      |       WHEN round($psi, 6) < $StableBar THEN 'stable'
      |       WHEN round($psi, 6) <= $ShiftBar THEN 'drifting'
      |       ELSE 'shifted' END AS verdict
      |FROM m
      |ORDER BY source""".stripMargin
  }
}
