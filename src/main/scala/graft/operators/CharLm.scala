package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** O4: character-trigram language-model quality scoring — the
  * perplexity-proxy filter of published web-corpus curation (CCNet /
  * KenLM-style "score every document under a small LM, drop the
  * tail") collapsed to the n-gram LM actually computable inside the
  * engine: P(c | ab) = count(abc) / count(ab·), each document scored
  * by the mean log-probability of its trigram stream, self-trained
  * on the corpus it scores. Gibberish, encoding damage, and
  * out-of-distribution text surface as low `avg_logp` — a signal
  * E2's shape heuristics (token length, TTR) cannot see because it
  * prices the CHARACTER TRANSITIONS themselves.
  *
  * Scale shape: the model lives at CHARACTER-VOCABULARY scale —
  * distinct trigrams are bounded by |charset|³ (~10⁶ for ASCII, a
  * few thousand here), NOT by corpus size — so the trained
  * `(trigram, logp)` table is a broadcast, and scoring is a map-side
  * broadcast-hash join on the exploded trigram stream followed by a
  * doc-grain aggregation whose exchange carries one partial
  * (sum, count) row per doc per task. Training is one aggregation of
  * the same stream whose map-side partial agg collapses each task to
  * its distinct trigrams (vocabulary-bounded) before the exchange:
  * at 100 TB both corpus-scale stages ship vocabulary- or doc-grain
  * rows, never the trigram stream. No UDFs: the explode is a
  * codegen'd `transform(sequence(...))` over 1-based offsets.
  *
  * Smoothing, and why it is load-bearing: the model is SELF-trained,
  * and the raw MLE `c3/c2` has a pathology exactly where the filter
  * must work — a gibberish trigram whose 2-char prefix is ALSO unique
  * to it gets P = 1/1 and prices as CERTAIN (logp 0, the best
  * possible score). The γ pseudo-mass in `ln(c3 / (c2 + γ))` makes a
  * hapax-on-hapax-prefix price as rare (≈ ln(1/γ)) while barely
  * perturbing well-attested transitions (c2 ≫ γ), which is the
  * monotonicity the filter needs; γ is a literal in both engines.
  *
  * Engine determinism: logp per trigram is `ln` of an exact
  * integer-derived ratio (identical in both engines); the per-doc
  * mean is rounded to 6 dp before output AND before the `suspect`
  * comparison, so the float-sum ulp cannot flip either.
  */
object CharLm {

  /** Smoothing pseudo-mass added to every prefix's denominator. */
  val Gamma = 100.0

  /** Rounded mean-logp below this flags the doc. */
  val SuspectBar = -4.0

  def lmScore(spark: SparkSession, dir: String): DataFrame =
    lmScoreFrom(Tables.parallelized(spark, Tables.documents(spark, dir)))

  /** Scoring over an arbitrary (doc_id, text) frame; docs shorter
    * than one trigram are excluded (Spark's `sequence(1, 0)` would
    * DESCEND, DuckDB's `range(1, 0)` is empty — the guard keeps the
    * engines identical and the semantics honest). */
  def lmScoreFrom(docs: DataFrame): DataFrame =
    lmScoreWith(docs, lmModelFrom(docs))

  /** The char-trigram stream behind the `length >= 3` guard — the
    * native [[graft.plans.CharGrams]] kernel (one fused code-point
    * walk per doc) in place of the interpreted
    * `transform(sequence(...), i -> substring(text, i, 3))` chain
    * (one lambda + sequence array per gram); element-identical on the
    * guarded domain, CharLmSpec pins the chain equality. */
  private def lmGramsOf(docs: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    docs.where(length(col("text")) >= 3)
      .select(col("doc_id"),
        explode(call_function("graft_char_grams", col("text"), lit(3)))
          .as("g"))
  }

  /** The trained O4 artifact — the `(trigram, logp)` table, bounded
    * by |charset|³ (never corpus size), i.e. the thing a steady-state
    * pipeline PERSISTS at refresh cadence and every scoring consumer
    * broadcast-joins. */
  def lmModelFrom(docs: DataFrame): DataFrame = {
    val model = lmGramsOf(docs).groupBy("g").agg(count(lit(1)).as("c3"))
    val prefix = model.groupBy(substring(col("g"), 1, 2).as("pfx"))
      .agg(sum(col("c3")).as("c2"))
    model
      .join(prefix, substring(col("g"), 1, 2) === col("pfx"))
      .select(col("g"),
        log(col("c3").cast("double") / (col("c2") + lit(Gamma))).as("logp"))
  }

  /** O4 steady state: score a doc frame under an already-trained
    * `(g, logp)` table — ONE native fused pass
    * ([[graft.plans.LmOps]]: per doc, walk the trigram stream and
    * binary-search the frozen table, summing in text order), the
    * model collected ONCE (vocabulary-bounded, the P1/P2 frozen-
    * artifact convention) and riding the plan as literals. Replaces
    * the exploded trigram stream + broadcast join + doc-grain
    * aggregation (5·10⁸ interpreted-lambda rows at 100× — the stage
    * every lmScore consumer shared; CharLmSpec pins kernel ≡ chain
    * bit-for-bit, the chain survives as `lmScoreWithPortable`).
    * Grams absent from the table (impossible when self-trained,
    * possible under a persisted model on NEW docs) price as the
    * γ-floor ln(1/γ), the same "rare transition" mass the smoothing
    * assigns a hapax — an unknown trigram must not score BETTER than
    * a rare known one, and dropping it would silently shorten the
    * stream. */
  def lmScoreWith(docs: DataFrame, logp: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    graft.plans.GraftFunctions.register(spark)
    val model = logp.select("g", "logp").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val scored = docs.where(length(col("text")) >= 3)
      // explode(array(...)) is the Generate projection-collapse
      // BARRIER (the Y1 device): the struct is referenced three
      // times below — without it CollapseProject substitutes the
      // whole kernel into each reference
      .select(col("doc_id"), explode(array(call_function("graft_lm_score",
        col("text"),
        typedlit(model.map(_._1).toSeq),
        typedlit(model.map(_._2).toSeq),
        log(lit(1.0 / Gamma))))).as("ls"))
      .select(col("doc_id"), col("ls.n_grams").as("n_grams"),
        round(col("ls.sum_logp") / col("ls.n_grams"), 6).as("avg_logp"))
      .withColumn("suspect", col("avg_logp") < SuspectBar)
    // presentation sort through an exchange (the qFingerprints
    // device): a narrow child's range sampler re-executes the kernel
    if (docs.isStreaming) scored
    else scored.repartition(col("doc_id")).orderBy("doc_id")
  }

  /** The spelled-out formulation the kernel replaced — broadcast join
    * + Average — kept as CharLmSpec's ground truth. */
  private[graft] def lmScoreWithPortable(docs: DataFrame, logp: DataFrame): DataFrame =
    lmGramsOf(docs).join(broadcast(logp), Seq("g"), "left")
      .select(col("doc_id"),
        coalesce(col("logp"), log(lit(1.0 / Gamma))).as("logp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), round(avg(col("logp")), 6).as("avg_logp"))
      .withColumn("suspect", col("avg_logp") < SuspectBar)
      .orderBy("doc_id")

  /** Sample share (of 65536 hash buckets) that prices the tercile
    * cut points — ~25% here; at 100 TB the knob shrinks (CCNet itself
    * derives cutoffs from a sample, not the full corpus). */
  val PplSampleBar = 16384
  private val pplSalt = "ppl"

  /** S2: CCNet-style perplexity bucketing (Wenzek et al. 2020) — score
    * every document under the LM, split each LANGUAGE into head /
    * middle / tail terciles by perplexity, keep-or-weight downstream
    * by bucket. Restated over the self-trained O4 trigram LM (CCNet
    * uses a Wikipedia-trained KenLM; the bucketing contract is the
    * same): higher `avg_logp` = lower perplexity = head.
    *
    * Cut points are EXACT ORDER STATISTICS (the ⌈n/3⌉-th and ⌈2n/3⌉-th
    * smallest sample scores), not interpolated percentiles — integer
    * ranks over 6-dp-rounded scores, so both engines derive
    * bit-identical cuts and no interpolation ulp can flip a boundary
    * doc. The ranking window runs over the hash SAMPLE only (the G1
    * primitive, [[Sampling.hashBucket]] < [[PplSampleBar]]) — the
    * published practice, and the scale story: the per-lang sort prices
    * a tunable fraction, the cut table is ≤#langs rows and broadcasts,
    * and bucketing the full corpus is a map-side comparison. */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallelized(spark, Tables.documents(spark, dir))
    // localCheckpoint: (doc_id, avg_logp) is 16 B a doc with two
    // consumers (cut-point sample + full bucketing) — without it each
    // re-runs the corpus-×-trigrams LM pipeline (the R3 lesson)
    pplBucketsFrom(lmScoreFrom(docs).select("doc_id", "avg_logp")
        .localCheckpoint(),
      docs.select("doc_id", "lang"))
  }

  /** Bucketing over a scored frame (doc_id, avg_logp) and a
    * (doc_id, lang) frame. Langs absent from the sample (none at the
    * fixture fractions) would drop — the inner join states that
    * honestly rather than inventing a bucket. */
  def pplBucketsFrom(scored: DataFrame, langs: DataFrame,
                     sortCap: Long = Sampling.SampleSortCap): DataFrame = {
    // two consumers (sample + bucket join): checkpoint the slim
    // (doc_id, lang, avg_logp) frame so the join runs once
    val doc = scored.join(langs, Seq("doc_id")).localCheckpoint()
    // cap-guarded: the per-lang rank sorts the whole sample of a
    // dominant language in one task — fail loudly past the cap
    val samp = Sampling.sampleSortGuard(
      doc.where(Sampling.hashBucket(col("doc_id"), pplSalt) < PplSampleBar),
      sortCap, "pplBuckets cut-point")
    val wRank = Window.partitionBy("lang").orderBy("avg_logp", "doc_id")
    val wN = Window.partitionBy("lang")
    val cuts = samp
      .withColumn("r", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wN))
      .groupBy("lang")
      .agg(
        max(when(col("r") === ceil(col("n") / 3.0).cast("long"),
          col("avg_logp"))).as("c1"),
        max(when(col("r") === ceil(col("n") * 2 / 3.0).cast("long"),
          col("avg_logp"))).as("c2"))
    doc.join(broadcast(cuts), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("avg_logp"),
        when(col("avg_logp") <= col("c1"), "tail")
          .when(col("avg_logp") <= col("c2"), "middle")
          .otherwise("head").as("bucket"))
      .orderBy("doc_id")
  }

  def pplBucketsSql: String = {
    val hb = Sampling.hashBucketSql("CAST(doc_id AS VARCHAR)", pplSalt)
    s"""WITH scored AS (SELECT doc_id, avg_logp FROM ($lmScoreSql)),
      |doc AS (
      |  SELECT s.doc_id, d.lang, s.avg_logp
      |  FROM scored s JOIN documents d USING (doc_id)),
      |samp AS (SELECT * FROM doc WHERE $hb < $PplSampleBar),
      |rk AS (
      |  SELECT lang, avg_logp,
      |    row_number() OVER (PARTITION BY lang ORDER BY avg_logp, doc_id) AS r,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM samp),
      |cuts AS (
      |  SELECT lang,
      |    max(CASE WHEN r = CAST(ceil(n / 3.0) AS BIGINT)
      |        THEN avg_logp END) AS c1,
      |    max(CASE WHEN r = CAST(ceil(n * 2 / 3.0) AS BIGINT)
      |        THEN avg_logp END) AS c2
      |  FROM rk GROUP BY lang)
      |SELECT doc.doc_id, doc.lang, doc.avg_logp,
      |  CASE WHEN avg_logp <= c1 THEN 'tail'
      |       WHEN avg_logp <= c2 THEN 'middle'
      |       ELSE 'head' END AS bucket
      |FROM doc JOIN cuts USING (lang)
      |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------- R5
  /** Keep fraction for [[excessLossSelect]] as an exact rational:
    * top 2/5 by excess log-likelihood. */
  val ExcessKeepNum = 2L
  val ExcessKeepDen = 5L
  private val excessSalt = "xl"

  /** R5: per-document excess-loss data selection — the RHO-1 recipe
    * (Lin et al. 2024, "Rho-1: Not All Tokens Are What You Need")
    * at document grain: score every document under TWO LMs — a
    * REFERENCE model trained only on the high-quality target band
    * (the R1/DSIR target definition: E2 quality ≥ Dsir.TargetBand)
    * and the corpus self-model (O4) — and select the top fraction by
    * excess log-likelihood `avg(logp_ref − logp_corpus)`. Documents
    * the quality-reference prices far above the corpus model are the
    * "learnable, high-value" mass RHO-1 keeps; generic crawl text
    * scores ≈0 and noise scores negative under both models, so the
    * signal is a likelihood RATIO, not raw perplexity (which S2
    * already buckets).
    *
    * Both models come from ONE shared counting pass: each trigram is
    * counted with a per-row target flag, so (c3_r, c3_t) and the
    * prefix totals (c2_r, c2_t) need no second scan and no join
    * between two trainings. The target numerator takes Dsir.Alpha
    * pseudo-mass (a corpus trigram can be absent from the band;
    * the self-model numerator is ≥1 by construction and stays O4's
    * exact formula).
    *
    * Selection cut: the exact ⌈n·2/5⌉-th LARGEST sample score (the
    * S2 order-statistic device over the G1 hash sample) — an
    * integer-rank cut on 6-dp-rounded scores, broadcast back as a
    * map-side threshold. The ranked window runs over the bounded
    * sample only; at 100 TB the sample bar shrinks like S2's.
    *
    * Scale shape: identical to O4/R1 — vocabulary-bounded model,
    * broadcast scoring join, doc-grain aggregation; plus one
    * bounded-sample rank and a broadcast 1-row cut. Engine
    * determinism: integer counts, ln of exact integer-derived
    * ratios, per-doc mean rounded to 6 dp before output AND before
    * the threshold comparison. */
  def excessLossSelect(spark: SparkSession, dir: String): DataFrame =
    excessLossSelectFrom(Tables.parallelized(spark, Tables.documents(spark, dir)))

  def excessLossSelectFrom(docs: DataFrame,
                           sortCap: Long = Sampling.SampleSortCap): DataFrame = {
    val corpus3 = docs.where(length(col("text")) >= 3)
    graft.plans.GraftFunctions.register(docs.sparkSession)
    def gramsOf(d: DataFrame): DataFrame = d
      .select(col("doc_id"),
        explode(call_function("graft_char_grams", col("text"), lit(3)))
          .as("g"))
    val grams = gramsOf(corpus3)
    // Fit as TWO flag-free branches, NOT one pass carrying a per-doc
    // target flag through the explode: a projection like
    // `select(is_target, explode(...))` puts the flag expression
    // ABOVE the Generate, so the quality score's string ops
    // (split/array_distinct/replace) re-evaluate PER GRAM ROW — ~300×
    // per doc; measured 187 s of the query's 201 s at 100× before
    // this split (DSIR shares the pattern at ~3× lower gram rate,
    // where it stays subcritical). As a WHERE on the doc frame the
    // predicate evaluates once per doc BELOW the Generate, the full
    // branch never computes it at all, and the branches meet at
    // vocabulary grain.
    val countsR = grams.groupBy("g").agg(count(lit(1)).as("c3_r"))
    val countsT = gramsOf(corpus3.where(
        TextAnalysis.qualityScore(col("text")) >= Dsir.TargetBand))
      .groupBy("g").agg(count(lit(1)).as("c3_t"))
    // the ≤|charset|³-row artifact has two consumers (prefix totals +
    // λ join) -> localCheckpoint
    val counts = countsR.join(countsT, Seq("g"), "left")
      .select(col("g"), col("c3_r"),
        coalesce(col("c3_t"), lit(0L)).as("c3_t"))
      .localCheckpoint()
    val prefix = counts.groupBy(substring(col("g"), 1, 2).as("pfx"))
      .agg(sum(col("c3_r")).as("c2_r"), sum(col("c3_t")).as("c2_t"))
    val lam = counts
      .join(prefix, substring(col("g"), 1, 2) === col("pfx"))
      .select(col("g"),
        (log((col("c3_t") + lit(Dsir.Alpha)) / (col("c2_t") + lit(Gamma))) -
          log(col("c3_r").cast("double") / (col("c2_r") + lit(Gamma)))).as("lam"))
    // doc-grain scores: 16 B/doc with two consumers (cut sample +
    // final gate) -> localCheckpoint (the R3 lesson)
    val scored = grams.join(broadcast(lam), Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        round(avg(col("lam")), 6).as("excess_logp"))
      .localCheckpoint()
    // cap-guarded (in-plan raise BEFORE the single-task rank sort);
    // the guard's broadcast n_samp doubles as the window's total
    // count, saving the count-over-frame pass
    val samp = Sampling.sampleSortGuard(
      scored.where(
        Sampling.hashBucket(col("doc_id"), excessSalt) < PplSampleBar),
      sortCap, "excessLossSelect cut")
    val wRank = Window.orderBy(col("excess_logp").desc, col("doc_id"))
    val cut = samp
      .withColumn("r", row_number().over(wRank))
      .agg(max(when(
        col("r") === ceil(col("n_samp") * ExcessKeepNum /
          lit(ExcessKeepDen.toDouble)).cast("long"),
        col("excess_logp"))).as("c"))
    // coalesce: an EMPTY hash sample yields a NULL cut, and
    // `excess_logp >= NULL` is NULL — every row silently unselected.
    // With no sample evidence the honest verdict is "select all"
    // (threshold -inf), stated as a literal both engines share.
    scored.crossJoin(broadcast(cut))
      .select(col("doc_id"), col("n_grams"), col("excess_logp"),
        (col("excess_logp") >= coalesce(col("c"), lit(-1e18)))
          .as("selected"))
      .orderBy("doc_id")
  }

  /** DuckDB twin — the whole recipe (shared fit → λ ratio → score →
    * order-statistic cut → threshold) is pure counting + `ln` of
    * exact ratios, so nothing needs the VALUES-literal device. */
  def excessLossSelectSql: String = {
    val q = TextAnalysis.qualityScoreSql("text")
    val hb = Sampling.hashBucketSql("CAST(doc_id AS VARCHAR)", excessSalt)
    s"""WITH d AS (SELECT doc_id, text, $q >= ${Dsir.TargetBand} AS is_target
      |           FROM documents WHERE length(text) >= 3),
      |g AS (SELECT doc_id, is_target,
      |        substring(text, CAST(i AS INTEGER), 3) AS g
      |      FROM (SELECT doc_id, is_target, text,
      |              unnest(range(1, length(text) - 1)) AS i FROM d)),
      |m AS (SELECT g, count(*) AS c3_r,
      |        CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS c3_t
      |      FROM g GROUP BY g),
      |p AS (SELECT substring(g, 1, 2) AS pfx,
      |        CAST(sum(c3_r) AS BIGINT) AS c2_r,
      |        CAST(sum(c3_t) AS BIGINT) AS c2_t
      |      FROM m GROUP BY 1),
      |lp AS (SELECT m.g,
      |         ln((m.c3_t + ${Dsir.Alpha}) / (p.c2_t + $Gamma)) -
      |           ln(CAST(m.c3_r AS DOUBLE) / (p.c2_r + $Gamma)) AS lam
      |       FROM m JOIN p ON substring(m.g, 1, 2) = p.pfx),
      |sc AS (SELECT doc_id, count(*) AS n_grams,
      |         round(avg(lam), 6) AS excess_logp
      |       FROM g JOIN lp USING (g) GROUP BY doc_id),
      |cut AS (SELECT max(CASE WHEN r = CAST(ceil(n * $ExcessKeepNum /
      |            ${ExcessKeepDen.toDouble}) AS BIGINT)
      |          THEN excess_logp END) AS c
      |        FROM (SELECT excess_logp,
      |                row_number() OVER (ORDER BY excess_logp DESC, doc_id) AS r,
      |                count(*) OVER () AS n
      |              FROM sc WHERE $hb < $PplSampleBar) t)
      |SELECT sc.doc_id, sc.n_grams, sc.excess_logp,
      |  sc.excess_logp >= coalesce(cut.c, -1e18) AS selected
      |FROM sc, cut
      |ORDER BY doc_id""".stripMargin
  }

  def lmScoreSql: String =
    s"""WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 3),
      |g AS (SELECT doc_id, substring(text, CAST(i AS INTEGER), 3) AS g
      |      FROM (SELECT doc_id, text,
      |              unnest(range(1, length(text) - 1)) AS i FROM d)),
      |m AS (SELECT g, count(*) AS c3 FROM g GROUP BY g),
      |p AS (SELECT substring(g, 1, 2) AS pfx, sum(c3) AS c2 FROM m GROUP BY 1),
      |lp AS (SELECT m.g, ln(CAST(m.c3 AS DOUBLE) / (p.c2 + $Gamma)) AS logp
      |       FROM m JOIN p ON substring(m.g, 1, 2) = p.pfx)
      |SELECT doc_id, count(*) AS n_grams,
      |  round(avg(logp), 6) AS avg_logp,
      |  round(avg(logp), 6) < $SuspectBar AS suspect
      |FROM g JOIN lp USING (g)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin
}
