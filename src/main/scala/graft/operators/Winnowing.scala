package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TopK
import graft.sources.Tables

/** Y3: winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
  * SIGMOD 2003 — the MOSS algorithm): hash every K-token gram, slide
  * a window of W consecutive gram hashes, and keep each window's
  * MINIMUM hash (ties to the RIGHTMOST position). The selected
  * (position, hash) set is the document's fingerprint, with the
  * paper's two guarantees: (1) any substring match of at least
  * t = W + K − 1 tokens produces at least one SHARED fingerprint
  * (every length-W window inside the match selects from the same
  * hashes), and (2) expected density is 2/(W+1) of the grams — a
  * BOUNDED per-doc artifact, which is what S1's full gram index is
  * not: S1 answers "remove every duplicated span" by carrying every
  * gram; winnowing answers "which doc PAIRS share material" carrying
  * ~2n/(W+1) hashes per doc.
  *
  * Construction is IN-ARRAY per doc (the X1 discipline): native
  * `graft_shingles` grams → one md5 per gram → window minima by
  * lambda-bound array ops — no per-gram explode, no window function;
  * the one explode is at fingerprint grain (~2/(W+1) density). Pair
  * detection is the C2 bucket shape: fingerprints bucket on the hash,
  * so candidate generation is sub-quadratic at any corpus size (never
  * all-pairs). Hot fingerprints (boilerplate) concentrate a bucket
  * exactly like a hot LSH band, so the pair generator applies C2's
  * `WinnowBucketCap` device — each fp's sorted doc list is capped
  * IDENTICALLY in plan and oracle, bounding a template fingerprint
  * shared by 10M docs to cap² pairs instead of 10¹³ (the L2
  * boilerplate scrub still runs upstream in a production pipeline;
  * the cap is the engine-level guarantee that a missed template
  * cannot detonate the join).
  *
  * Engine determinism: gram hashes are md5 hex strings (identical in
  * both engines), the window minimum is the lexicographic string min,
  * and the rightmost-tie rule is an integer position fold — no floats
  * anywhere. */
object Winnowing {

  /** Gram width in tokens. */
  val K = 3
  /** Window: consecutive gram hashes per selection. */
  val W = 4
  /** Detection guarantee: shared runs of ≥ this many tokens. */
  val GuaranteeTokens: Int = W + K - 1

  /** Per-doc fingerprint set: (doc_id, pos, fp) — pos is the 1-based
    * gram index the selected hash sits at (rightmost minimum of its
    * window), fp the md5 hex of the K-token gram. Distinct: adjacent
    * windows usually re-select the same (pos, fp). */
  def fingerprintsFrom(spark: SparkSession, docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(fpStructs(spark, col("text"))).as("f"))
      .select(col("doc_id"), col("f.pos").as("pos"), col("f.fp").as("fp"))

  /** Distinct fingerprint VALUES per doc, deduped IN-ARRAY — no
    * shuffle, stateless, so the pair/incremental joins need no
    * pre-join distinct and the streaming gate can use it verbatim. */
  def fpValuesFrom(spark: SparkSession, docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(array_distinct(transform(fpStructs(spark, col("text")),
          f => f.getField("fp")))).as("fp"))

  /** The deduped (pos, fp) struct array of one text column — ONE
    * fused native pass ([[graft.plans.WinnowOps]]: gram spans → md5
    * per gram → window minima on raw digests → consecutive dedup),
    * replacing [[fpStructsPortable]]'s interpreted HOF chain (one
    * interpreted lambda call per gram/window element — the dominant
    * cost of the whole winnowing family, 60–100 s entries at 100×).
    * WinnowingSpec pins kernel ≡ chain bit-for-bit; the DuckDB twin
    * is unchanged. */
  private def fpStructs(spark: SparkSession, text: Column): Column = {
    graft.plans.GraftFunctions.register(spark)
    call_function("graft_winnow_fp",
      coalesce(text, lit("")), lit(K), lit(W))
  }

  /** The spelled-out built-in formulation — mirrors the DuckDB twin
    * term for term; kept as WinnowingSpec's ground truth for the
    * native kernel. */
  private[graft] def fpStructsPortable(spark: SparkSession, text: Column): Column = {
    graft.plans.GraftFunctions.register(spark)
    val grams = call_function("graft_shingles",
      coalesce(text, lit("")), lit(K), lit(false))
    // lambda-bind the hash array (the X1/cdcChunks device: Catalyst
    // re-evaluates a subtree at every reference inside a lambda, so
    // the md5 pass must be bound once per row)
    // dedup IN-ARRAY, so the whole operator family is scan → project
    // → explode with NO shuffle — and therefore stateless-stream-safe
    // (the M3/V4 rule). Duplicates are provably CONSECUTIVE runs (a
    // selected minimum at position p can only stop being selected
    // when a smaller hash at q > p enters the window, and q then
    // outlives p in every later window — so p never re-appears),
    // hence keep-if-differs-from-predecessor dedups completely in
    // O(windows); array_distinct on a struct array would be the O(n²)
    // interpreted pairwise scan (measured 2.3× the whole query at
    // 100×).
    flatten(transform(array(transform(grams, g => md5(g))), gh =>
      flatten(transform(array(
        transform(sequence(lit(1), greatest(size(gh) - W + 1, lit(1))), { i =>
          val win = slice(gh, i, lit(W))
          val mn = array_min(win)
          // rightmost position of the minimum inside the window: an
          // integer fold keeping the LAST matching index
          val rel = aggregate(sequence(lit(1), size(win)), lit(0), (acc, j) =>
            when(element_at(win, j) === mn, j).otherwise(acc))
          struct((i + rel - 1).cast("long").as("pos"), mn.as("fp"))
        })), sv =>
        filter(sv, (x, i) =>
          (i === 0) || !(x <=> element_at(sv, i)))))))
  }

  /** The gated fingerprint query: every doc's selected fingerprints,
    * totally ordered for the hash compare. The repartition is NOT a
    * pessimization: a global sort's range-sampling pass re-executes
    * its child lineage, and with a purely narrow child that means the
    * whole fingerprint computation runs TWICE (measured 93.8 vs
    * 39.6 s at 100×); the exchange materializes it once and the
    * sampler reads shuffle files. Production consumers use the
    * unordered [[fingerprintsFrom]] — the sort is presentation-only. */
  def qFingerprints(spark: SparkSession, dir: String): DataFrame =
    fingerprintsFrom(spark, Tables.documents(spark, dir))
      .repartition(col("doc_id"))
      .orderBy("doc_id", "pos", "fp")

  /** Per-fp doc-list cap (the C2 BucketCap device, Dedup.scala): a hot
    * boilerplate fingerprint shared by F docs would otherwise emit
    * F²/2 pairs out of one bucket — at 100 TB a template shared by 10M
    * docs is ~10¹³ pairs, a scale-killer no fixture can see. Capping
    * each fp's SORTED doc list at 1000 members (identically in Spark
    * and the oracle, so a degenerate bucket can never diverge the two)
    * bounds any bucket's contribution; past the cap, in-bucket members
    * are already mutually connected through the kept 1000, so pair
    * enumeration beyond it adds no new cluster information. */
  private[graft] val WinnowBucketCap = 1000

  /** Candidate copy pairs: docs sharing ≥1 fingerprint VALUE, with
    * the shared-value count (the MOSS ranking signal). Pairs come from
    * grouping fingerprints into buckets and exploding in-bucket
    * combinations over the sorted, `WinnowBucketCap`-capped member
    * list — the fingerprint pipeline runs ONCE (a self-join would run
    * it twice) and no bucket can detonate. */
  def winnowPairs(spark: SparkSession, dir: String): DataFrame =
    winnowPairsFrom(spark, Tables.documents(spark, dir))

  def winnowPairsFrom(spark: SparkSession, docs: DataFrame,
                      cap: Int = WinnowBucketCap): DataFrame =
    fpValuesFrom(spark, docs)
      // bounded min-k aggregation (TopK.minIds): same capped sorted
      // member list as the collect-and-slice form, but the buffer
      // never exceeds `cap` entries — an F-member hot bucket costs
      // O(cap) aggregation memory, not O(F) (measured flat at the
      // planted F=500k 1000x probe, BASELINE round-19)
      .groupBy("fp").agg(TopK.minIds(spark, cap, col("doc_id")).as("sids"))
      .where(size(col("sids")) > 1)
      .select(explode(expr(
        """flatten(transform(sids, (a, i) ->
          |  transform(slice(sids, i + 2, size(sids)),
          |            b -> named_struct('doc_a', a, 'doc_b', b))))""".stripMargin)).as("p"))
      // strict <: guards the (x, x) self-pair the oracle's
      // a.doc_id < b.doc_id join can never produce
      .where(col("p.doc_a") < col("p.doc_b"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .orderBy("doc_a", "doc_b")

  /** Deterministic 20% hash split standing in for "a new crawl batch
    * arrives" — the H4 BatchSalt device at fingerprint grain. */
  private val winBatchSalt = "winbatch"
  private[graft] def isWinNew(c: Column): Column =
    Sampling.hashBucket(c, winBatchSalt) < Sampling.pctThreshold(20)

  /** Y3 incremental (H4's asymmetric new-vs-old shape at fingerprint
    * grain): each NEW doc's fingerprint VALUES probe the persisted
    * corpus fingerprint index — shared_frac is the MOSS overlap
    * signal against the standing corpus, computed without ever
    * re-fingerprinting old text. At scale the old side is a
    * fp-bucketed persisted index (written once); per batch only the
    * new fingerprints shuffle to probe it. */
  def winnowIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    winnowIncrementalFrom(spark,
      docs.where(!isWinNew(col("doc_id"))),
      docs.where(isWinNew(col("doc_id"))))
  }

  def winnowIncrementalFrom(spark: SparkSession, oldDocs: DataFrame,
                            newDocs: DataFrame): DataFrame =
    // the index side needs a cross-DOC distinct (it is the persisted
    // artifact); the probe side dedups in-array
    winnowIncrementalWith(spark, newDocs,
      fpValuesFrom(spark, oldDocs).select("fp").distinct())

  /** The steady-state form: probe an already-persisted fingerprint
    * index — the per-batch price once the corpus index is shared
    * (`from_winnow_incremental` in the bench). */
  def winnowIncrementalWith(spark: SparkSession, newDocs: DataFrame,
                            fpIndex: DataFrame): DataFrame = {
    val idx = fpIndex.select("fp").withColumn("hit", lit(true))
    fpValuesFrom(spark, newDocs)
      .join(idx, Seq("fp"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_fp"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_fp"), 6)
          .as("shared_frac"))
      .orderBy("doc_id")
  }

  /** Y5 index maintenance — the O5/L4/K8 delta pattern applied to the
    * persisted winnowing fingerprint index. The maintained artifact is
    * the (doc_id, fp) frame [[fpValuesFrom]] emits (the probe's
    * distinct-fp view is a projection of it, so keeping doc
    * attribution is what MAKES removal possible: a bare distinct-fp
    * set cannot tell whether a departing doc's fingerprint is still
    * carried by another doc). A 100 TB corpus re-ingests a sliver
    * daily; re-fingerprinting everything for a 10⁻³ delta re-pays the
    * full gram-hash pass. Fingerprints are per-row independent, so:
    * departed/changed docs leave by anti-join on doc_id, and
    * arrived/changed docs are the ONLY rows whose text is read — one
    * [[fpValuesFrom]] pass over the delta, O(|delta|) work, zero
    * reads of unchanged text (WinnowingSpec's poison-proof corrupts
    * every non-delta doc's text and the maintained index must still
    * equal the intact full rebuild bit-for-bit).
    *
    * @param oldIndex prior (doc_id, fp) fingerprint index
    * @param newDocs  the new corpus (doc_id, text)
    * @param delta    CDC rows (doc_id, change ∈ added|removed|changed)
    *                 — the K9 snapshot-diff shape */
  def maintainFpIndex(spark: SparkSession, oldIndex: DataFrame,
                      newDocs: DataFrame, delta: DataFrame): DataFrame = {
    val gone = delta.where(col("change").isin("removed", "changed"))
      .select(col("doc_id"))
    val arrived = delta.where(col("change").isin("added", "changed"))
      .select(col("doc_id"))
    val surviving = oldIndex.join(gone, Seq("doc_id"), "left_anti")
      .select("doc_id", "fp")
    // the only text read in the whole maintenance pass
    val fresh = fpValuesFrom(spark,
      newDocs.join(arrived, Seq("doc_id"), "left_semi")
        .select("doc_id", "text"))
    surviving.unionByName(fresh)
  }

  /** The fingerprint CTE chain over `documents WHERE where`, with CTE
    * names suffixed `sfx` so two populations can coexist in one
    * query (the incremental twin). */
  private[operators] def fpSqlCtes(sfx: String = "", where: String = "true"): String = {
    val gram = s"md5(array_to_string(toks[i:i+${K - 1}], ' '))"
    val win = s"gh[i:i+${W - 1}]"
    s"""t$sfx AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
      |       FROM documents WHERE $where),
      |g$sfx AS (SELECT doc_id,
      |        list_transform(range(1, greatest(len(toks) - ${K - 1}, 1) + 1),
      |          i -> $gram) AS gh
      |      FROM t$sfx),
      |w$sfx AS (SELECT doc_id, gh, unnest(range(1,
      |          greatest(len(gh) - ${W - 1}, 1) + 1)) AS i
      |      FROM g$sfx),
      |sel$sfx AS (SELECT doc_id,
      |          CAST(i + list_max(list_transform(range(1, len($win) + 1),
      |            j -> CASE WHEN ($win)[j] = list_aggregate($win, 'min')
      |                 THEN j ELSE 0 END)) - 1 AS BIGINT) AS pos,
      |          list_aggregate($win, 'min') AS fp
      |        FROM w$sfx),
      |fps$sfx AS (SELECT DISTINCT doc_id, pos, fp FROM sel$sfx)""".stripMargin
  }

  def qFingerprintsSql: String =
    s"""WITH ${fpSqlCtes()}
      |SELECT doc_id, pos, fp FROM fps
      |ORDER BY doc_id, pos, fp""".stripMargin

  def winnowIncrementalSql: String = {
    val hb = Sampling.hashBucketSql("CAST(doc_id AS VARCHAR)", winBatchSalt)
    val bar = Sampling.pctThreshold(20)
    s"""WITH ${fpSqlCtes("_old", s"NOT ($hb < $bar)")},
      |${fpSqlCtes("_new", s"$hb < $bar")},
      |idx AS (SELECT DISTINCT fp FROM fps_old),
      |nv AS (SELECT DISTINCT doc_id, fp FROM fps_new)
      |SELECT nv.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_fp,
      |  CAST(sum(CASE WHEN idx.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_shared,
      |  round(CAST(sum(CASE WHEN idx.fp IS NOT NULL THEN 1 ELSE 0 END)
      |      AS DOUBLE) / count(*), 6) AS shared_frac
      |FROM nv LEFT JOIN idx ON nv.fp = idx.fp
      |GROUP BY nv.doc_id
      |ORDER BY nv.doc_id""".stripMargin
  }

  def winnowPairsSql: String =
    s"""WITH ${fpSqlCtes()},
      |fv0 AS (SELECT DISTINCT doc_id, fp FROM fps),
      |fv AS (SELECT doc_id, fp FROM (
      |    SELECT doc_id, fp,
      |      row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      |    FROM fv0) t WHERE rn <= $WinnowBucketCap)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(count(*) AS BIGINT) AS n_shared_fp
      |FROM fv a JOIN fv b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY doc_a, doc_b
      |ORDER BY doc_a, doc_b""".stripMargin
}
