package graft.operators

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** O1: BM25 keyword retrieval over the document corpus — the lexical
  * half of a retrieval stack (the vector half is D1-D6). Training-data
  * pipelines use exactly this shape for targeted corpus probes
  * ("find the docs about X"), eval-set sourcing, and hybrid
  * lexical+vector retrieval; the scoring function is the published
  * Robertson/Spärck-Jones BM25 with the Lucene-style non-negative
  * idf `ln(1 + (N - df + 0.5)/(df + 0.5))`.
  *
  * Scale shape (the part that matters at 100 TB): the query set is a
  * constant — its term vocabulary is a broadcast literal — so the
  * corpus tokenization is FILTERED to query terms map-side, before
  * any exchange: the only corpus-scale shuffle carries
  * (doc_id, term, tf) for MATCHING terms only (a ~10⁻⁴ selectivity
  * projection of the token stream, 24 B/row), never the token stream
  * itself. Document frequencies are |query-vocab| rows (an
  * aggregation of that same matched frame) and ride back as a
  * broadcast; corpus stats (N, avgdl) are one scalar row. Top-k per
  * query is a `row_number <= k` over query_id — the WindowGroupLimit
  * rewrite ships k rows per partition, and with |queries| partitions
  * of k rows the window input is already tiny. No inverted index is
  * materialized: at this selectivity a scan-side filter IS the
  * index probe, and the J7/K4 skipping ladder composes in front of
  * it when the corpus is laid out by source/date.
  *
  * Determinism across engines: contributions are summed per
  * (query, doc) — a ≤|query-terms| float sum whose error is a few
  * ulp — and the rank orders by the ROUNDED score (6 dp) with doc_id
  * tiebreak, so Spark and DuckDB rank identically; the raw sum is
  * never compared or ordered on.
  */
object Retrieval {

  /** Fixed probe queries over the synthetic vocabulary; a literal in
    * both engines so the plans cannot desynchronize. */
  val Queries: Seq[(Long, String)] = Seq(
    1L -> "spark join filter",
    2L -> "window agg batch data",
    3L -> "customer order line query",
    4L -> "hash table scan")

  val K1 = 1.2   // BM25 tf saturation
  val B = 0.75   // BM25 length normalization
  val TopK = 10

  /** The per-(query,doc,term) BM25 contribution in DuckDB, every
    * operand explicitly DOUBLE: DuckDB types bare `0.5`/`1.2`
    * literals as DECIMAL and would route parts of the formula through
    * decimal arithmetic — exact where Spark's double is not — so the
    * two engines would disagree below the rounding. Shared by the O1
    * and O6 oracles. */
  private def bmTermSql: String =
    s"ln(CAST(1.0 AS DOUBLE) + (CAST(stats.n_docs - df.df AS DOUBLE) + 0.5) / " +
      s"(CAST(df.df AS DOUBLE) + 0.5)) * " +
      s"(CAST(tf.tf AS DOUBLE) * ${K1 + 1.0}) / " +
      s"(CAST(tf.tf AS DOUBLE) + $K1 * (CAST(${1.0 - B} AS DOUBLE) + " +
      s"($B * CAST(tf.dl AS DOUBLE)) / stats.avgdl))"

  def bm25TopK(spark: SparkSession, dir: String): DataFrame =
    bm25TopKFrom(spark, Tables.parallelized(spark, Tables.documents(spark, dir)))

  /** The full (query_id, doc_id, score) frame behind [[bm25TopKFrom]]
    * — one row per query × matching doc. Also the batch truth the O7
    * streaming scorer is equality-pinned against. */
  private[graft] def bm25ScoredFrom(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val qterms = Queries.flatMap { case (qid, q) =>
      q.split(" ").distinct.map(t => (qid, t))
    }.toDF("query_id", "term")

    val tf = bm25Postings(docs)
    val df = bm25TermStats(tf)
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      avg(size(split(col("text"), " ")).cast("long")).as("avgdl"))

    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm = (col("tf") * lit(K1 + 1.0)) /
      (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl")))

    tf.join(broadcast(df), Seq("term"))
      .join(broadcast(qterms), Seq("term"))
      .crossJoin(broadcast(stats))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(idf * tfNorm), 6).as("score"))
  }

  // ------------------------------------- O1 standing artifacts (M11)
  /** The probe-query vocabulary — the map-side prune that keeps every
    * O1 artifact matched-terms-sized. */
  private[operators] def vocab: Seq[String] =
    Queries.flatMap(_._2.split(" ")).distinct

  /** O1's persisted POSTINGS artifact: the vocab-pruned
    * `(doc_id, term, tf, dl)` frame — one row per (matching doc,
    * query term), the exact frame `bm25ScoredFrom` scores from. At
    * a deployment this persists at ingest cadence and the serving
    * pass never re-tokenizes the corpus. */
  def bm25Postings(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
    // the map-side vocabulary prune: everything downstream is
    // matched-terms-sized
    toks.where(col("term").isin(vocab: _*))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
  }

  /** O1's term-stats artifact `(term, df)` — document frequency per
    * vocabulary term, derived from the postings (df = posting rows
    * per term by construction, which is what makes removal a
    * SUBTRACTION from the removed docs' own postings). */
  def bm25TermStats(postings: DataFrame): DataFrame =
    postings.groupBy("term").agg(count(lit(1)).as("df"))

  /** O1's corpus-stats artifact `(n_docs, sum_dl)` — kept as EXACT
    * integers (avgdl = sum_dl / n_docs is derived at serve time), so
    * removal maintenance subtracts counts instead of re-averaging
    * floats. */
  def bm25CorpusStats(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("sum_dl"))

  /** M11 maintenance: route one removal batch through the three O1
    * artifacts in O(|removed| + touched state) —
    *  - postings: doc-keyed anti-join;
    *  - term df: count subtraction driven by the REMOVED docs' own
    *    posting rows (the span-index device at term grain — no
    *    surviving doc is ever re-tokenized), terms falling to df=0
    *    leave the artifact exactly as a rebuild would drop them;
    *  - corpus stats: integer subtraction of the removed batch's doc
    *    count and token mass (text is read for REMOVED docs only —
    *    a removal request is served from the corpus before the rows
    *    drop, the M4 span convention).
    * RemovalSpec pins per-row equality with artifacts rebuilt from
    * the remaining corpus under survivor-text poisoning. */
  def maintainBm25Removal(post0: DataFrame, term0: DataFrame,
                          corp0: DataFrame, removedDocs: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val ids = removedDocs.select("doc_id").distinct()
    val post1 = post0.join(ids, Seq("doc_id"), "left_anti")
    val dfSub = post0.join(broadcast(ids), Seq("doc_id"), "left_semi")
      .groupBy("term").agg(count(lit(1)).as("sub"))
    val term1 = term0.join(broadcast(dfSub), Seq("term"), "left")
      .select(col("term"),
        (col("df") - coalesce(col("sub"), lit(0L))).as("df"))
      .where(col("df") > 0)
    val rmStats = removedDocs.agg(count(lit(1)).as("rm_docs"),
      coalesce(sum(size(split(col("text"), " ")).cast("long")), lit(0L))
        .as("rm_dl"))
    val corp1 = corp0.crossJoin(broadcast(rmStats))
      .select((col("n_docs") - col("rm_docs")).as("n_docs"),
        (col("sum_dl") - col("rm_dl")).as("sum_dl"))
    (post1, term1, corp1)
  }

  /** The retrieval over an arbitrary (doc_id, text) frame. */
  def bm25TopKFrom(spark: SparkSession, docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    bm25ScoredFrom(spark, docs)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- O7
  /** Frozen BM25 scoring model: per-query (term, idf) pairs over the
    * query vocabulary plus the corpus avgdl — everything a stateless
    * scorer needs, O(|query vocab|) numbers. */
  case class Bm25Model(queries: Seq[(Long, Seq[(String, Double)])], avgdl: Double)

  /** Train the frozen model from a corpus (one aggregation over the
    * vocabulary-pruned token stream + one stats row — the same
    * sub-plans the batch ranker runs). Terms absent from the corpus
    * keep the df=0 idf; they contribute nothing either way (tf=0). */
  def bm25Model(spark: SparkSession, dir: String): Bm25Model =
    bm25ModelFrom(spark, Tables.parallelized(spark, Tables.documents(spark, dir)))

  def bm25ModelFrom(spark: SparkSession, docs: DataFrame): Bm25Model = {
    val vocab = Queries.flatMap(_._2.split(" ")).distinct
    val dfMap = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .where(col("term").isin(vocab: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val s = docs.agg(count(lit(1)).as("n"),
      avg(size(split(col("text"), " ")).cast("long")).as("avgdl")).head()
    val n = s.getLong(0)
    def idf(t: String): Double = {
      val df = dfMap.getOrElse(t, 0L).toDouble
      math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    }
    Bm25Model(
      Queries.map { case (qid, q) =>
        qid -> q.split(" ").distinct.toSeq.map(t => t -> idf(t))
      }, s.getDouble(1))
  }

  /** O7: standing-query BM25 over a document STREAM — live retrieval
    * against a fixed query set (alerting, routing, eval-set capture
    * on the ingest path). The df/avgdl statistics are a BATCH
    * artifact (a stream cannot know corpus-wide document frequencies
    * — M3's frozen-artifact convention, refreshed on the batch
    * cadence); scoring is ONE stateless narrow projection: per-term
    * tf via codegen'd array HOFs against plan-literal model rows,
    * fanned out per standing query by a constant-width struct explode
    * — no token explode, no aggregation, no state store, valid in ANY
    * output mode. Emits (doc_id, query_id, score) for docs matching ≥1
    * query term; row set and scores are equality-pinned against
    * `bm25ScoredFrom` in OSeriesSpec (the stream sums terms in
    * query order vs the batch shuffle's order — identical after the
    * shared 6 dp round). */
  def bm25ScoreStream(stream: DataFrame, model: Bm25Model): DataFrame = {
    val toks = split(col("text"), " ")
    val dl = size(toks).cast("double")
    val perQuery = model.queries.map { case (qid, terms) =>
      val tfs = terms.map { case (t, _) =>
        t -> size(filter(toks, x => x === lit(t))).cast("double")
      }
      val score = terms.map { case (t, idfT) =>
        val tf = tfs.toMap.apply(t)
        lit(idfT) * (tf * lit(K1 + 1.0)) /
          (tf + lit(K1) * (lit(1.0 - B) + lit(B) * dl / lit(model.avgdl)))
      }.reduce(_ + _)
      val nMatch = tfs.map(_._2).reduce(_ + _)
      struct(lit(qid).as("query_id"), round(score, 6).as("score"),
        nMatch.as("n_match"))
    }
    stream
      .select(col("doc_id"), explode(array(perQuery: _*)).as("s"))
      .where(col("s.n_match") > 0)
      .select(col("doc_id"), col("s.query_id").as("query_id"),
        col("s.score").as("score"))
  }

  // ---------------------------------------------------------------- O6
  /** RRF smoothing constant (Cormack/Clarke/Büttcher 2009's k=60). */
  val RrfK = 60

  /** O6: hybrid retrieval by reciprocal-rank fusion — the published
    * way to combine ranked lists from heterogeneous scorers without
    * calibrating their score scales (RRF(d) = Σᵢ 1/(k + rankᵢ(d)),
    * k = 60): the fusion step of every hybrid lexical+vector stack.
    * Here it fuses the O1 BM25 list with a K5-style tf·idf-cosine
    * list over the same probe queries — two genuinely different
    * lexical rankings (BM25 saturates tf and prices doc length;
    * tf·idf is linear in tf) — and the SAME operator fuses a D-series
    * ANN list when query embeddings exist, since it only reads
    * (query_id, rank, doc_id) columns.
    *
    * Scale shape: both input lists are top-k-per-query frames —
    * |queries|·k rows regardless of corpus size — so the fusion
    * (full-outer join on (query_id, doc_id) + one rank window) is
    * constant-sized work dwarfed by the rankers that feed it. Ranks
    * are small exact integers, so `1/(60+rank)` sums are
    * engine-identical to the ulp; rounded to 6 dp and ranked on the
    * rounded value with doc_id tiebreak, the shared discipline. */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame =
    rrfFusionFrom(spark, Tables.parallelized(spark, Tables.documents(spark, dir)))

  /** O6 in ONE corpus pass: both rankers score out of the SAME
    * matched-tf aggregation (round 10 ran the tokenize→prune→tf
    * pipeline once per ranker), both rank windows share the query_id
    * partitioning (one exchange, two sorts), and the fusion needs no
    * join at all — a doc's two ranks already sit on one row, so
    * "missing from a list" is just `rank > TopK` contributing 0 (the
    * published convention, identical to the full-outer-join form —
    * OSeriesSpec pins row equality with the composed
    * `rrfFuse(bm25TopKFrom, tfidfTopKFrom)` path). */
  def rrfFusionFrom(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val qterms = Queries.flatMap { case (qid, q) =>
      q.split(" ").distinct.map(t => (qid, t))
    }.toDF("query_id", "term")
    val vocab = Queries.flatMap(_._2.split(" ")).distinct

    val toks = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
    val tf = toks.where(col("term").isin(vocab: _*))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      avg(size(split(col("text"), " ")).cast("long")).as("avgdl"))

    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm = (col("tf") * lit(K1 + 1.0)) /
      (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl")))

    val dual = tf.join(broadcast(df), Seq("term"))
      .join(broadcast(qterms), Seq("term"))
      .crossJoin(broadcast(stats))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(idf * tfNorm), 6).as("score_a"),
        round(sum((col("tf") * col("n_docs")).cast("double") / col("df")), 6)
          .as("score_b"))
    val wa = Window.partitionBy("query_id")
      .orderBy(col("score_a").desc, col("doc_id").asc)
    val wb = Window.partitionBy("query_id")
      .orderBy(col("score_b").desc, col("doc_id").asc)
    def contrib(rank: Column) =
      when(rank <= TopK, lit(1.0) / (lit(RrfK) + rank)).otherwise(lit(0.0))
    val ranked = dual
      .withColumn("rank_a", row_number().over(wa).cast("long"))
      .withColumn("rank_b", row_number().over(wb).cast("long"))
      .where(col("rank_a") <= TopK || col("rank_b") <= TopK)
      .select(col("query_id"), col("doc_id"),
        round(contrib(col("rank_a")) + contrib(col("rank_b")), 6).as("rrf_score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
    ranked.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf_score"))
      .orderBy("query_id", "rank")
  }

  /** Fuse any two (query_id, rank, doc_id, ...) ranked frames. A doc
    * missing from one list contributes 0 from that list (the
    * published convention). */
  def rrfFuse(a: DataFrame, b: DataFrame): DataFrame = {
    val ra = a.select(col("query_id"), col("doc_id"), col("rank").as("rank_a"))
    val rb = b.select(col("query_id"), col("doc_id"), col("rank").as("rank_b"))
    val fused = ra.join(rb, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        round(coalesce(lit(1.0) / (lit(RrfK) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("rank_b")), lit(0.0)), 6)
          .as("rrf_score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf_score"))
      .orderBy("query_id", "rank")
  }

  /** The second ranker: K5's log-free tf·idf (`tf · N / df`, an exact
    * integer ratio — see CorpusStats K5 for why no logs) summed over
    * query terms, top-k per query. Same broadcast-vocabulary scale
    * shape as BM25. */
  private[graft] def tfidfTopKFrom(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val qterms = Queries.flatMap { case (qid, q) =>
      q.split(" ").distinct.map(t => (qid, t))
    }.toDF("query_id", "term")
    val vocab = Queries.flatMap(_._2.split(" ")).distinct
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .where(col("term").isin(vocab: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(broadcast(df), Seq("term"))
      .join(broadcast(qterms), Seq("term"))
      .crossJoin(broadcast(n))
      .groupBy("query_id", "doc_id")
      .agg(round(sum((col("tf") * col("n_docs")).cast("double") / col("df")), 6)
        .as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }

  def rrfFusionSql: String = {
    val qvals = Queries.flatMap { case (qid, q) =>
      q.split(" ").distinct.map(t => s"($qid, '$t')")
    }.mkString(", ")
    s"""WITH q(query_id, term) AS (VALUES $qvals),
      |d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |tok AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
      |               unnest(toks) AS term FROM d),
      |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
      |       FROM tok WHERE term IN (SELECT term FROM q)
      |       GROUP BY doc_id, term),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |stats AS (SELECT count(*) AS n_docs,
      |                 avg(CAST(len(toks) AS BIGINT)) AS avgdl FROM d),
      |bm_sc AS (
      |  SELECT q.query_id, tf.doc_id, round(sum($bmTermSql), 6) AS score
      |  FROM tf JOIN df USING (term) JOIN q USING (term), stats
      |  GROUP BY q.query_id, tf.doc_id),
      |bm AS (SELECT query_id, doc_id,
      |         row_number() OVER (PARTITION BY query_id
      |           ORDER BY score DESC, doc_id ASC) AS rank_a
      |       FROM bm_sc QUALIFY rank_a <= $TopK),
      |ti_sc AS (
      |  SELECT q.query_id, tf.doc_id,
      |    round(sum(CAST(tf.tf * stats.n_docs AS DOUBLE) / df.df), 6) AS score
      |  FROM tf JOIN df USING (term) JOIN q USING (term), stats
      |  GROUP BY q.query_id, tf.doc_id),
      |ti AS (SELECT query_id, doc_id,
      |         row_number() OVER (PARTITION BY query_id
      |           ORDER BY score DESC, doc_id ASC) AS rank_b
      |       FROM ti_sc QUALIFY rank_b <= $TopK),
      |fused AS (
      |  SELECT coalesce(bm.query_id, ti.query_id) AS query_id,
      |         coalesce(bm.doc_id, ti.doc_id) AS doc_id,
      |         round(coalesce(CAST(1.0 AS DOUBLE) / ($RrfK + bm.rank_a), CAST(0.0 AS DOUBLE)) +
      |               coalesce(CAST(1.0 AS DOUBLE) / ($RrfK + ti.rank_b), CAST(0.0 AS DOUBLE)), 6) AS rrf_score
      |  FROM bm FULL OUTER JOIN ti
      |    ON bm.query_id = ti.query_id AND bm.doc_id = ti.doc_id)
      |SELECT query_id, rank, doc_id, rrf_score FROM (
      |  SELECT query_id, doc_id, rrf_score,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY rrf_score DESC, doc_id ASC) AS BIGINT) AS rank
      |  FROM fused) r
      |WHERE rank <= $TopK
      |ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- O8
  /** O8: retrieval-quality evaluation — per-query reciprocal rank,
    * DCG/nDCG@k (Järvelin & Kekäläinen 2002, the exponential-gain
    * form), and precision@k for the O1 BM25 ranking, judged against a
    * DETERMINISTIC graded weak label: a document's relevance to a
    * query is graded: 2 if the document contains the query's leading
    * BIGRAM as an exact token-adjacent phrase (the signal BM25's
    * orderless bag cannot see — which is precisely what makes the
    * metric discriminate), 1 if it merely contains every query term,
    * 0 otherwise; "relevant" for the binary metrics means rel = 2.
    * Real deployments plug human judgments in; the weak-label device
    * is the house convention (P2's E2 bands), transparent and
    * computable in both engines. This is the measurement half every
    * retrieval stack ships with — the S4 calibration idea applied to
    * O1. (On this corpus full-coverage docs saturate every top-10 —
    * a coverage-only label grades every ranking perfect, which is a
    * statement about the label, not the ranker.)
    *
    * Scale shape: the label is ONE narrow per-doc projection (coverage
    * is array_intersect vs the literal term array, phrase a padded
    * contains — no explode-join, no shuffle); the ideal ranking is a
    * `row_number ≤ k` per query over the matched rows (WindowGroupLimit
    * — k rows per partition cross the wire); the ranked pool is
    * localCheckpoint-cut (|queries|·k rows, two consumers) and every
    * join touching it is a broadcast; everything else is |queries|·k-row
    * arithmetic. Determinism:
    * gains/discounts are per-row closed forms over small integers,
    * per-query sums are ≤k floats rounded to 6 dp, and nDCG divides
    * the ROUNDED dcg by the ROUNDED idcg. */
  def retrievalEval(spark: SparkSession, dir: String): DataFrame =
    retrievalEvalFrom(spark,
      Tables.parallelized(spark, Tables.documents(spark, dir)))

  def retrievalEvalFrom(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val log2 = (c: Column) => log(c.cast("double")) / log(lit(2.0))

    // The graded label as ONE narrow per-doc projection — no explode-
    // into-shuffle, no join: full-term coverage (the rel = 1 band) is
    // `array_intersect` against the query's literal term array; the
    // leading-bigram phrase (the rel = 2 band) is a padded substring
    // `contains` so the match is token-adjacent, not an intra-token
    // substring. |Queries| structs per doc, matched rows kept.
    val toks = array_distinct(split(col("text"), " "))
    val padded = concat(lit(" "), col("text"), lit(" "))
    val rel = docs.select(col("doc_id"),
        explode(array(Queries.map { case (qid, q) =>
          val terms = q.split(" ").distinct
          val t = q.split(" ")
          val cov = size(array_intersect(toks,
            array(ArraySeq.unsafeWrapArray(terms.map(lit(_))): _*))) === terms.length
          struct(lit(qid).as("query_id"),
            when(padded.contains(s" ${t(0)} ${t(1)} "), 2L)
              .when(cov, 1L).otherwise(0L).as("rel"))
        }: _*)).as("s"))
      .select(col("s.query_id").as("query_id"), col("doc_id"),
        col("s.rel").as("rel"))
      .where(col("rel") > 0L)
    // The ranked pool is a bounded artifact (|queries|·k rows) with
    // TWO consumers (the judged frame and the rel restriction) — cut
    // it once so the BM25 pipeline doesn't run twice.
    val topk = bm25TopKFrom(spark, docs).localCheckpoint()
    // rel restricted to the pool: broadcast the ≤|queries|·k ids into
    // a second narrow corpus pass (streamed side, zero shuffle), then
    // the judged join itself is a broadcast of ≤|queries|·k rows.
    val relTop = rel.join(broadcast(topk.select("query_id", "doc_id")),
      Seq("query_id", "doc_id"))
    val judged = topk
      .join(broadcast(relTop), Seq("query_id", "doc_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
    val gain = (pow(lit(2.0), col("rel")) - lit(1.0)) / log2(col("rank") + 1)
    val perQ = judged.groupBy("query_id")
      .agg(
        round(coalesce(max(when(col("rel") === 2, lit(1.0) / col("rank"))),
          lit(0.0)), 6).as("rr"),
        round(sum(gain), 6).as("dcg"),
        sum(when(col("rel") === 2, 1L).otherwise(0L)).as("n_hits"))
    val wIdeal = Window.partitionBy("query_id")
      .orderBy(col("rel").desc, col("doc_id"))
    val ideal = rel.withColumn("irank", row_number().over(wIdeal))
      .where(col("irank") <= TopK)
      .groupBy("query_id")
      .agg(round(sum((pow(lit(2.0), col("rel")) - lit(1.0)) /
        log2(col("irank") + 1)), 6).as("idcg"))
    perQ.join(broadcast(ideal), Seq("query_id"))
      .select(col("query_id"), col("n_hits"), col("rr"),
        col("dcg"), col("idcg"),
        round(col("dcg") / col("idcg"), 6).as("ndcg"),
        round(col("n_hits").cast("double") / TopK, 6).as("p_at_k"))
      .orderBy("query_id")
  }

  def retrievalEvalSql: String = {
    val qvals = Queries.flatMap { case (qid, q) =>
      q.split(" ").distinct.map(t => s"($qid, '$t')")
    }.mkString(", ")
    val bvals = Queries.map { case (qid, q) =>
      val t = q.split(" ")
      s"($qid, ' ${t(0)} ${t(1)} ')"
    }.mkString(", ")
    val disc = (r: String) =>
      s"(ln(CAST($r + 1 AS DOUBLE)) / ln(CAST(2 AS DOUBLE)))"
    s"""WITH q(query_id, term) AS (VALUES $qvals),
      |bg(query_id, phr) AS (VALUES $bvals),
      |nt AS (SELECT query_id, count(*) AS n_terms FROM q GROUP BY query_id),
      |d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |tok AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
      |               unnest(toks) AS term FROM d),
      |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
      |       FROM tok WHERE term IN (SELECT term FROM q)
      |       GROUP BY doc_id, term),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |stats AS (SELECT count(*) AS n_docs,
      |                 avg(CAST(len(toks) AS BIGINT)) AS avgdl FROM d),
      |sc AS (
      |  SELECT q.query_id, tf.doc_id, round(sum($bmTermSql), 6) AS score
      |  FROM tf JOIN df USING (term) JOIN q USING (term), stats
      |  GROUP BY q.query_id, tf.doc_id),
      |topk AS (
      |  SELECT query_id, doc_id, rank FROM (
      |    SELECT query_id, doc_id,
      |      CAST(row_number() OVER (PARTITION BY query_id
      |        ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
      |    FROM sc) r
      |  WHERE rank <= $TopK),
      |fc AS (
      |  SELECT query_id, doc_id FROM (
      |    SELECT q.query_id, x.doc_id, count(*) AS c
      |    FROM (SELECT DISTINCT doc_id, term FROM tok
      |          WHERE term IN (SELECT term FROM q)) x
      |    JOIN q USING (term)
      |    GROUP BY q.query_id, x.doc_id) cov
      |  JOIN nt USING (query_id) WHERE c = n_terms),
      |ph AS (
      |  SELECT bg.query_id, doc_id
      |  FROM documents, bg
      |  WHERE contains(' ' || text || ' ', bg.phr)),
      |rel AS (
      |  SELECT coalesce(fc.query_id, ph.query_id) AS query_id,
      |         coalesce(fc.doc_id, ph.doc_id) AS doc_id,
      |         CASE WHEN ph.doc_id IS NOT NULL THEN 2 ELSE 1 END AS rel
      |  FROM fc FULL JOIN ph
      |    ON fc.query_id = ph.query_id AND fc.doc_id = ph.doc_id),
      |judged AS (
      |  SELECT t.query_id, t.rank, coalesce(rel.rel, 0) AS rel
      |  FROM topk t
      |  LEFT JOIN rel ON rel.query_id = t.query_id AND rel.doc_id = t.doc_id),
      |perq AS (
      |  SELECT query_id,
      |    CAST(sum(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_hits,
      |    round(coalesce(max(CASE WHEN rel = 2
      |      THEN CAST(1 AS DOUBLE) / rank END), 0), 6) AS rr,
      |    round(sum((pow(CAST(2 AS DOUBLE), rel) - 1) / ${disc("rank")}), 6)
      |      AS dcg
      |  FROM judged GROUP BY query_id),
      |irk AS (
      |  SELECT query_id, rel,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY rel DESC, doc_id) AS irank
      |  FROM rel),
      |ideal AS (
      |  SELECT query_id,
      |    round(sum((pow(CAST(2 AS DOUBLE), rel) - 1) / ${disc("irank")}), 6)
      |      AS idcg
      |  FROM irk WHERE irank <= $TopK GROUP BY query_id)
      |SELECT p.query_id, n_hits, rr, dcg, ideal.idcg,
      |  round(dcg / ideal.idcg, 6) AS ndcg,
      |  round(CAST(n_hits AS DOUBLE) / $TopK, 6) AS p_at_k
      |FROM perq p JOIN ideal USING (query_id)
      |ORDER BY query_id""".stripMargin
  }

  def bm25TopKSql: String = {
    val qvals = Queries.flatMap { case (qid, q) =>
      q.split(" ").distinct.map(t => s"($qid, '$t')")
    }.mkString(", ")
    s"""WITH q(query_id, term) AS (VALUES $qvals),
      |d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |tok AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
      |               unnest(toks) AS term FROM d),
      |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
      |       FROM tok WHERE term IN (SELECT term FROM q)
      |       GROUP BY doc_id, term),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |stats AS (SELECT count(*) AS n_docs,
      |                 avg(CAST(len(toks) AS BIGINT)) AS avgdl FROM d),
      |sc AS (
      |  SELECT q.query_id, tf.doc_id, round(sum($bmTermSql), 6) AS score
      |  FROM tf JOIN df USING (term) JOIN q USING (term), stats
      |  GROUP BY q.query_id, tf.doc_id)
      |SELECT query_id, rank, doc_id, score FROM (
      |  SELECT query_id, doc_id, score,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
      |  FROM sc) r
      |WHERE rank <= $TopK
      |ORDER BY query_id, rank""".stripMargin
  }
}
