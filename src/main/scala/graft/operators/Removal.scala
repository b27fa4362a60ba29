package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{ArtifactStore, Tables}

/** M4: governed removal propagation — the "delete these documents
  * everywhere" operation a production corpus owes its sources
  * (opt-out / takedown / right-to-erasure requests are a standing
  * input of every large-scale training-data pipeline, not an edge
  * case). Removing a doc from the `documents` table is the easy 1%;
  * the engine's DERIVED ARTIFACTS — dedup verdict tables, fingerprint
  * indexes, gram-occurrence indexes, token-count state — all still
  * mention it, and at 100 TB rebuilding each from scratch per
  * removal batch re-pays full corpus passes for a 10⁻⁴ delta.
  *
  * This operator routes one removal set through every maintained
  * artifact's EXISTING delta maintainer (the O5/L4/K8/N6/Y8 family —
  * each already poison-proofed individually) and emits the audit a
  * compliance review wants: per artifact, the surviving row count, an
  * artifact-specific integer checksum, and the RESIDUE — rows still
  * referencing a removed doc (doc-keyed artifacts) or corrupted
  * counts (occurrence-keyed artifacts). The DuckDB twin computes the
  * same stats off artifacts REBUILT from scratch on the remaining
  * corpus, so the hash gate proves maintained ≡ rebuilt at
  * count+checksum grain with zero residue — the per-row bit-equality
  * is each maintainer's own spec. All audit stats are exact integers:
  * nothing in this query can float-drift.
  *
  * Scale shape: each maintainer is O(|removed| + touched state) —
  * removal never re-reads unchanged text (RemovalSpec's composition
  * poison-proof corrupts every surviving doc's text in the frame
  * handed to maintenance and the audit must not move). The artifact
  * BUILDS in the self-contained gated form stand in for the standing
  * state a deployment already has on disk. */
object Removal {

  /** Deterministic 10% hash split standing in for "a removal batch
    * arrives" — the H4 BatchSalt device at governance grain. */
  private val ForgetSalt = "forget"
  private val ForgetPct = 10

  private[graft] def isForgotten(c: Column): Column =
    Sampling.hashBucket(c, ForgetSalt) < Sampling.pctThreshold(ForgetPct)

  def removalAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "source", "text")
    removalAuditFrom(spark, docs,
      docs.where(isForgotten(col("doc_id"))).select("doc_id"))
  }

  /** The audit over an arbitrary corpus + removal set: build each
    * artifact's standing state, apply the removal through its delta
    * maintainer, and audit the result. `removeIds` must be a subset
    * of `docs` ids (removing an unknown id is a no-op in every
    * maintainer — anti-joins simply miss). */
  def removalAuditFrom(spark: SparkSession, docs: DataFrame,
                       removeIds: DataFrame): DataFrame =
    removalAuditWith(spark,
      Dedup.exactFrom(docs),
      CorpusStats.tokenCounts(docs),
      Winnowing.fpValuesFrom(spark, docs),
      SpanDedup.spanGramIndex(spark, docs),
      docs, removeIds)

  /** The steady-state form: artifacts arrive PREBUILT (at a
    * deployment they are the standing on-disk state) — the timed work
    * is one maintenance pass per artifact + the audit aggregates, the
    * O(|removed| + touched state) price a removal batch actually
    * costs (`from_removal_audit` in the bench). */
  def removalAuditWith(spark: SparkSession, ex0: DataFrame,
                       tok0: DataFrame, fp0: DataFrame, span0: DataFrame,
                       docs: DataFrame, removeIds: DataFrame): DataFrame = {
    val delta = removeIds.select(col("doc_id"),
      lit("removed").as("change"))
    // maintainers read newDocs only for ARRIVED ids; the delta is
    // removal-only, so no text is read through `docs` here (pinned by
    // RemovalSpec's composition poison-proof)
    val ex1 = SnapshotDiff.maintainExactDedup(ex0, docs, delta)
    val tok1 = CorpusStats.maintainTokenCounts(tok0, docs, delta)
    val fp1 = Winnowing.maintainFpIndex(spark, fp0, docs, delta)
    // occurrence-keyed artifact: subtraction maintenance needs the
    // REMOVED docs' text (a removal request is served from the corpus
    // before the rows are dropped), never the survivors'
    val span1 = SpanDedup.maintainSpanIndexRemoval(spark, span0,
      docs.join(removeIds, Seq("doc_id"), "left_semi"))

    val removed = removeIds.withColumn("r", lit(true))
    // residue = membership count against the removal set — doc-keyed
    // artifacts must carry ZERO rows of it
    val residue = sum(when(col("r").isNotNull, 1L).otherwise(0L))
    def docKeyed(name: String, df: DataFrame, checksum: Column): DataFrame =
      df.join(broadcast(removed), Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_rows"), checksum.as("checksum"),
          residue.as("n_residue"))
        .select(lit(name).as("artifact"), col("n_rows"),
          col("checksum").cast("long").as("checksum"), col("n_residue"))
    val exAudit = docKeyed("exact_verdicts", ex1,
      sum(col("is_dup").cast("long")))
    val tokAudit = docKeyed("token_counts", tok1, sum(col("c")))
    val fpAudit = docKeyed("winnow_fp_index", fp1,
      countDistinct(col("fp")))
    val spanAudit = span1.agg(count(lit(1)).as("n_rows"),
        sum(col("occ_old")).as("checksum"),
        sum(when(col("occ_old") <= 0, 1L).otherwise(0L)).as("n_residue"))
      .select(lit("span_gram_index").as("artifact"), col("n_rows"),
        col("checksum").cast("long").as("checksum"), col("n_residue"))
    exAudit.unionByName(tokAudit).unionByName(fpAudit)
      .unionByName(spanAudit)
      .orderBy("artifact")
  }

  /** M6: the removal audit's VECTOR-SIDE twin — the same governed
    * removal routed through the engine's other standing artifacts: the
    * C2 band-signature index (doc-keyed, anti-join), the X2
    * chunk-signature index (doc-keyed, anti-join), and O5's IVF
    * assignment index (vec-keyed, [[SemanticDedup.maintainAssignments]]
    * with a removal-only delta — the maintainer reads NO embedding for
    * a pure removal: the arrived side's semi-join is empty). Same
    * audit grain as [[removalAuditWith]]: per artifact the surviving
    * row count, an exact-integer checksum, and the residue (rows
    * still naming a removed id). The DuckDB twin rebuilds each
    * artifact from scratch on the remaining corpus/embeddings under
    * the SAME frozen centroid generation (removal never retrains —
    * the O5 generation contract), so hash-green proves maintained ≡
    * rebuilt at count+checksum grain with zero residue; per-row
    * bit-equality is RemovalSpec's extension. */
  def removalAuditV2(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "source", "text")
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val cents = SemanticDedup.trainedCentsDf(spark, dir)
    removalAuditV2With(spark,
      Dedup.bandsOf(spark, docs),
      Chunking.cdcChunks(docs).select("doc_id", "sig", "ctok"),
      SemanticDedup.assignTo(spark, emb, cents)
        .select("vec_id", "embedding", "cid", "cent_sim"),
      emb,
      docs.where(isForgotten(col("doc_id"))).select("doc_id"),
      emb.where(isForgotten(col("vec_id"))).select("vec_id"),
      cents)
  }

  /** Steady-state form: artifacts arrive prebuilt (the standing
    * on-disk state); timed work is three O(|removed| + touched state)
    * maintenance passes + the audit aggregates
    * (`from_removal_audit_v2` in the bench). */
  def removalAuditV2With(spark: SparkSession, band0: DataFrame,
                         chunk0: DataFrame, ivf0: DataFrame,
                         emb: DataFrame, removeDocIds: DataFrame,
                         removeVecIds: DataFrame,
                         cents: DataFrame): DataFrame = {
    val band1 = band0.join(removeDocIds, Seq("doc_id"), "left_anti")
    val chunk1 = chunk0.join(removeDocIds, Seq("doc_id"), "left_anti")
    val delta = removeVecIds.select(col("vec_id"),
      lit("removed").as("change"))
    val ivf1 = SemanticDedup.maintainAssignments(spark, ivf0, emb,
      delta, cents)

    val removedD = removeDocIds.withColumn("r", lit(true))
    val removedV = removeVecIds.withColumn("r", lit(true))
    val residue = sum(when(col("r").isNotNull, 1L).otherwise(0L))
    def docKeyed(name: String, df: DataFrame, checksum: Column): DataFrame =
      df.join(broadcast(removedD), Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_rows"), checksum.as("checksum"),
          residue.as("n_residue"))
        .select(lit(name).as("artifact"), col("n_rows"),
          col("checksum").cast("long").as("checksum"), col("n_residue"))
    val bandAudit = docKeyed("band_index", band1, countDistinct(col("key")))
    val chunkAudit = docKeyed("chunk_sig_index", chunk1, sum(col("ctok")))
    val ivfAudit = ivf1.join(broadcast(removedV), Seq("vec_id"), "left")
      .agg(count(lit(1)).as("n_rows"), sum(col("cid")).as("checksum"),
        residue.as("n_residue"))
      .select(lit("ivf_assignments").as("artifact"), col("n_rows"),
        col("checksum").cast("long").as("checksum"), col("n_residue"))
    bandAudit.unionByName(chunkAudit).unionByName(ivfAudit)
      .orderBy("artifact")
  }

  /** M11: the removal audit's third ring — the two standing artifacts
    * round 19's verdict flagged as uncovered: the Z1/Z5 PACKED
    * BINARY-QUANTIZATION index `(vec_id, words)` (vec-keyed — the 8
    * B/vector sign-bit artifact a deployment scans instead of floats)
    * and O1's persisted BM25 serving state (postings + term df +
    * corpus stats, [[Retrieval.bm25Postings]] family). Same audit
    * grain as v1/v2: per artifact the surviving row count, an
    * exact-integer checksum, and the residue. The packed index leaves
    * by anti-join; the BM25 family routes through
    * [[Retrieval.maintainBm25Removal]] (df is a SUBTRACTION from the
    * removed docs' own posting rows; corpus stats subtract integer
    * token mass — no survivor text, no re-average). DuckDB rebuilds
    * everything from the remaining corpus/embeddings, so hash-green
    * proves maintained ≡ rebuilt; per-row bit-equality is
    * RemovalSpec's M11 case. */
  def removalAuditV3(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "source", "text")
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val post0 = Retrieval.bm25Postings(docs)
    removalAuditV3With(spark, post0,
      Retrieval.bm25TermStats(post0),
      Retrieval.bm25CorpusStats(docs),
      emb.select(col("vec_id"),
        graft.functions.Vectors.bitpackFast(spark, col("embedding"))
          .as("words")),
      docs,
      docs.where(isForgotten(col("doc_id"))).select("doc_id"),
      emb.where(isForgotten(col("vec_id"))).select("vec_id"))
  }

  /** Steady-state form: artifacts arrive prebuilt; timed work is the
    * four O(|removed| + touched state) maintenance passes + the audit
    * aggregates (`from_removal_audit_v3` in the bench). Removed docs'
    * text is served from `docs` via semi-join (survivor text is never
    * read — RemovalSpec poisons it). */
  def removalAuditV3With(spark: SparkSession, post0: DataFrame,
                         term0: DataFrame, corp0: DataFrame,
                         bq0: DataFrame, docs: DataFrame,
                         removeDocIds: DataFrame,
                         removeVecIds: DataFrame): DataFrame = {
    val removedDocs = docs.join(removeDocIds, Seq("doc_id"), "left_semi")
    val (post1, term1, corp1) =
      Retrieval.maintainBm25Removal(post0, term0, corp0, removedDocs)
    val bq1 = bq0.join(removeVecIds, Seq("vec_id"), "left_anti")

    val removedD = removeDocIds.withColumn("r", lit(true))
    val removedV = removeVecIds.withColumn("r", lit(true))
    val residue = sum(when(col("r").isNotNull, 1L).otherwise(0L))
    val wordsSum = (1 to graft.plans.BitPack.Words)
      .map(i => element_at(col("words"), i)).reduce(_ + _)
    val corpAudit = corp1.agg(count(lit(1)).as("n_rows"),
        sum(col("n_docs") + col("sum_dl")).as("checksum"),
        sum(when(col("n_docs") <= 0 || col("sum_dl") <= 0, 1L)
          .otherwise(0L)).as("n_residue"))
      .select(lit("bm25_corpus_stats").as("artifact"), col("n_rows"),
        col("checksum").cast("long").as("checksum"), col("n_residue"))
    val postAudit = post1.join(broadcast(removedD), Seq("doc_id"), "left")
      .agg(count(lit(1)).as("n_rows"), sum(col("tf")).as("checksum"),
        residue.as("n_residue"))
      .select(lit("bm25_postings").as("artifact"), col("n_rows"),
        col("checksum").cast("long").as("checksum"), col("n_residue"))
    val termAudit = term1.agg(count(lit(1)).as("n_rows"),
        sum(col("df")).as("checksum"),
        sum(when(col("df") <= 0, 1L).otherwise(0L)).as("n_residue"))
      .select(lit("bm25_term_stats").as("artifact"), col("n_rows"),
        col("checksum").cast("long").as("checksum"), col("n_residue"))
    val bqAudit = bq1.join(broadcast(removedV), Seq("vec_id"), "left")
      .agg(count(lit(1)).as("n_rows"), sum(wordsSum).as("checksum"),
        residue.as("n_residue"))
      .select(lit("bq_packed_index").as("artifact"), col("n_rows"),
        col("checksum").cast("long").as("checksum"), col("n_residue"))
    corpAudit.unionByName(postAudit).unionByName(termAudit)
      .unionByName(bqAudit)
      .orderBy("artifact")
  }

  /** DuckDB twin of [[removalAuditV3]]: postings/df/corpus-stats
    * rebuilt over the remaining docs, the packed index rebuilt over
    * the remaining embeddings via the explicit Σ 2^j sign-bit chain
    * (`BinaryAnn.wordSql` — integer-exact in both engines). */
  def removalAuditV3Sql: String = {
    val keepD = s"NOT (${Sampling.hashBucketSql("CAST(doc_id AS VARCHAR)",
      ForgetSalt)} < ${Sampling.pctThreshold(ForgetPct)})"
    val forgD = s"${Sampling.hashBucketSql("CAST(doc_id AS VARCHAR)",
      ForgetSalt)} < ${Sampling.pctThreshold(ForgetPct)}"
    val keepV = s"NOT (${Sampling.hashBucketSql("CAST(vec_id AS VARCHAR)",
      ForgetSalt)} < ${Sampling.pctThreshold(ForgetPct)})"
    val forgV = s"${Sampling.hashBucketSql("CAST(vec_id AS VARCHAR)",
      ForgetSalt)} < ${Sampling.pctThreshold(ForgetPct)}"
    val vocabList = Retrieval.vocab.map(t => s"'$t'").mkString(", ")
    val wordCols = (0 until graft.plans.BitPack.Words)
      .map(w => s"${BinaryAnn.wordSql(w)} AS w_$w").mkString(",\n         ")
    val wordSum = (0 until graft.plans.BitPack.Words)
      .map(w => s"w_$w").mkString(" + ")
    s"""WITH rem AS (SELECT doc_id, text FROM documents WHERE $keepD),
      |reme AS (SELECT vec_id, embedding FROM embeddings WHERE $keepV),
      |toks AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |         unnest(string_split(text, ' ')) AS term
      |  FROM rem),
      |tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM toks WHERE term IN ($vocabList) GROUP BY doc_id, term),
      |dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df
      |        FROM tf GROUP BY term),
      |corp AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |                CAST(coalesce(sum(len(string_split(text, ' '))), 0)
      |                  AS BIGINT) AS sum_dl
      |         FROM rem),
      |bq AS (SELECT vec_id,
      |         $wordCols
      |       FROM reme)
      |SELECT * FROM (
      |  SELECT 'bm25_corpus_stats' AS artifact,
      |    CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(n_docs + sum_dl) AS BIGINT) AS checksum,
      |    CAST(sum(CASE WHEN n_docs <= 0 OR sum_dl <= 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_residue
      |  FROM corp
      |  UNION ALL
      |  SELECT 'bm25_postings',
      |    CAST(count(*) AS BIGINT), CAST(sum(tf) AS BIGINT),
      |    CAST(sum(CASE WHEN $forgD THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM tf
      |  UNION ALL
      |  SELECT 'bm25_term_stats',
      |    CAST(count(*) AS BIGINT), CAST(sum(df) AS BIGINT),
      |    CAST(sum(CASE WHEN df <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM dfx
      |  UNION ALL
      |  SELECT 'bq_packed_index',
      |    CAST(count(*) AS BIGINT), CAST(sum($wordSum) AS BIGINT),
      |    CAST(sum(CASE WHEN $forgV THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM bq)
      |ORDER BY artifact""".stripMargin
  }

  /** D7 removal: takedown propagation into the on-disk
    * `cid=`-partitioned IVF layout, at PARTITION grain — touched cids
    * come from a vec→cid lookup (at a deployment, O5's maintained
    * assignment frame; at 10⁹ vectors with k=10⁴ buckets a removal
    * batch touches ≤|batch| buckets), so only the touched `cid=`
    * directories are ever read or rewritten; untouched buckets' files
    * are never opened (RemovalSpec proves it by corrupting an
    * untouched bucket's files — the removal must still succeed).
    * Each touched bucket publishes through [[graft.sources.ArtifactStore.maintain]]
    * — replayed batches are per-bucket no-ops, crashes leave every
    * bucket complete, and the layout root is swept for interrupted
    * swaps first so partition discovery never sees a stale
    * `cid=N.tmp` child. */
  def removeFromIvfLayout(spark: SparkSession, layoutDir: String,
                          lookup: DataFrame, removeVecIds: DataFrame,
                          batchId: Long): Unit = {
    ArtifactStore.recoverAll(spark, layoutDir)
    val ids = removeVecIds.select("vec_id")
    val touched = lookup.join(ids, Seq("vec_id"), "left_semi")
      .select("cid").distinct().collect().map(_.get(0))
    touched.foreach { c =>
      ArtifactStore.maintain(spark, s"$layoutDir/cid=$c", batchId) { cur =>
        cur.join(broadcast(ids), Seq("vec_id"), "left_anti")
      }
    }
  }

  /** DuckDB twin of [[removalAuditV2]]: band + chunk indexes rebuilt
    * over the remaining docs, assignments rebuilt over the remaining
    * embeddings under the frozen centroid literal (round-9 cosine
    * desc, ties to the smallest cid — the house argmax). */
  def removalAuditV2Sql: String = {
    val keepD = s"NOT (${Sampling.hashBucketSql("CAST(doc_id AS VARCHAR)",
      ForgetSalt)} < ${Sampling.pctThreshold(ForgetPct)})"
    val forgD = s"${Sampling.hashBucketSql("CAST(doc_id AS VARCHAR)",
      ForgetSalt)} < ${Sampling.pctThreshold(ForgetPct)}"
    val keepV = s"NOT (${Sampling.hashBucketSql("CAST(vec_id AS VARCHAR)",
      ForgetSalt)} < ${Sampling.pctThreshold(ForgetPct)})"
    val forgV = s"${Sampling.hashBucketSql("CAST(vec_id AS VARCHAR)",
      ForgetSalt)} < ${Sampling.pctThreshold(ForgetPct)}"
    val centRows = OracleModelCache.centValuesSql(SemanticDedup.oracleCents())
    s"""WITH rem AS (
      |  SELECT doc_id, source, text FROM documents WHERE $keepD),
      |${Dedup.rawBandsSqlCtes("rem")},
      |${Chunking.cdcChunksSqlCtes("rem")},
      |reme AS (SELECT vec_id, embedding FROM embeddings WHERE $keepV),
      |cents(cid, c_emb) AS (VALUES
      |    $centRows),
      |cscore AS (
      |  SELECT e.vec_id, c.cid,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.c_emb), 9) DESC,
      |               c.cid) AS rk
      |  FROM reme e, cents c),
      |assign AS (SELECT vec_id, cid FROM cscore WHERE rk = 1)
      |SELECT * FROM (
      |  SELECT 'band_index' AS artifact,
      |    CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(count(DISTINCT key) AS BIGINT) AS checksum,
      |    CAST(sum(CASE WHEN $forgD THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_residue
      |  FROM bands_rb
      |  UNION ALL
      |  SELECT 'chunk_sig_index',
      |    CAST(count(*) AS BIGINT), CAST(sum(ctok) AS BIGINT),
      |    CAST(sum(CASE WHEN $forgD THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM pc
      |  UNION ALL
      |  SELECT 'ivf_assignments',
      |    CAST(count(*) AS BIGINT), CAST(sum(cid) AS BIGINT),
      |    CAST(sum(CASE WHEN $forgV THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM assign)
      |ORDER BY artifact""".stripMargin
  }

  /** M5: the STREAMING removal gate's per-micro-batch body — takedown
    * requests arrive as a stream of doc ids (`writeStream.foreachBatch`
    * drives this), and each micro-batch maintains the PERSISTED
    * artifacts in place:
    *
    *  - the doc-keyed fingerprint index leaves by anti-join (Y8's
    *    maintenance — anti-joins compose across batches, so any split
    *    of one removal set into micro-batches converges to the same
    *    state as the batch form, pinned in RemovalSpec through a real
    *    two-micro-batch stream);
    *  - the occurrence-keyed span index subtracts the removed docs'
    *    gram counts, with text served by an id join against the
    *    standing corpus (a takedown stream carries IDS; the corpus is
    *    the system of record until the rows drop).
    *
    * Every artifact update goes through [[graft.sources.ArtifactStore
    * .maintain]] — foreachBatch is AT-LEAST-ONCE, and the span
    * index's count subtraction is not idempotent, so a replayed
    * micro-batch applied twice would silently over-evict grams
    * surviving docs still carry. The store's `_graft_applied` marker
    * makes replay a per-artifact no-op, and its tmp-write + rename
    * swap means a crash at ANY point leaves a complete copy of each
    * artifact on disk (the old state until the new one is fully
    * published). State between batches lives on disk (the M3/Q1
    * bounded-state convention: artifact size is corpus-bounded, not
    * stream-unbounded). */
  def removalMicroBatch(spark: SparkSession, batchIds: DataFrame,
                        batchId: Long, docs: DataFrame, fpDir: String,
                        spanDir: String): Unit = {
    val ids = batchIds.select("doc_id").distinct()
    // span FIRST: it is the only artifact that needs the removed
    // docs' TEXT, so it must drink from the corpus before any
    // corpus-moving caller (removalMicroBatchAll) drops the rows —
    // on replay, already-applied artifacts skip and the not-yet-
    // applied suffix still finds what it needs
    ArtifactStore.maintain(spark, spanDir, batchId) { cur =>
      SpanDedup.maintainSpanIndexRemoval(spark, cur,
        docs.join(ids, Seq("doc_id"), "left_semi"))
    }
    ArtifactStore.maintain(spark, fpDir, batchId) { cur =>
      cur.join(ids, Seq("doc_id"), "left_anti")
    }
  }

  /** The full transaction-shaped unit: the SYSTEM OF RECORD (the
    * corpus snapshot) and its derived artifacts all move in one
    * micro-batch, each behind its own applied-batch gate. Order is
    * the correctness invariant: text-consuming artifacts (span)
    * update first, the corpus itself LAST — so a crash anywhere
    * leaves the corpus rows a replay needs, and once the corpus has
    * absorbed the batch every earlier artifact necessarily has too
    * (re-delivery is then a complete no-op). */
  def removalMicroBatchAll(spark: SparkSession, batchIds: DataFrame,
                           batchId: Long, corpusDir: String,
                           fpDir: String, spanDir: String): Unit = {
    ArtifactStore.recover(spark, corpusDir)
    val docs = spark.read.parquet(corpusDir)
    removalMicroBatch(spark, batchIds, batchId, docs, fpDir, spanDir)
    val ids = batchIds.select("doc_id").distinct()
    ArtifactStore.maintain(spark, corpusDir, batchId) { cur =>
      cur.join(ids, Seq("doc_id"), "left_anti")
    }
  }

  /** DuckDB twin: every artifact REBUILT from scratch on the
    * remaining corpus — the specification the maintained state must
    * match. Residue terms are computed (not literal zeros) so the
    * twin states the contract explicitly. */
  def removalAuditSql: String = {
    val keep = s"NOT (${Sampling.hashBucketSql("CAST(doc_id AS VARCHAR)",
      ForgetSalt)} < ${Sampling.pctThreshold(ForgetPct)})"
    val forgotten = s"${Sampling.hashBucketSql("CAST(doc_id AS VARCHAR)",
      ForgetSalt)} < ${Sampling.pctThreshold(ForgetPct)}"
    val k = SpanDedup.SpanK
    s"""WITH rem AS (
      |  SELECT doc_id, source, text FROM documents WHERE $keep),
      |ex AS (
      |  SELECT doc_id,
      |    doc_id <> min(doc_id) OVER (PARTITION BY sig) AS is_dup
      |  FROM (SELECT doc_id, ${graft.functions.Portable.bagSignatureSql("text")} AS sig
      |        FROM rem)),
      |tok AS (
      |  SELECT doc_id, source, token, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT doc_id, source,
      |          unnest(string_split(text, ' ')) AS token FROM rem)
      |  GROUP BY doc_id, source, token),
      |${Winnowing.fpSqlCtes("_rem", keep)},
      |fv AS (SELECT DISTINCT doc_id, fp FROM fps_rem),
      |spang AS (
      |  SELECT array_to_string(tk[i:i+${k - 1}], ' ') AS g,
      |         CAST(count(*) AS BIGINT) AS occ
      |  FROM (SELECT tk,
      |          unnest(range(1, greatest(len(tk) - ${k - 2}, 2))) AS i
      |        FROM (SELECT string_split(coalesce(text, ''), ' ') AS tk
      |              FROM rem))
      |  GROUP BY 1)
      |SELECT * FROM (
      |  SELECT 'exact_verdicts' AS artifact,
      |    CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS checksum,
      |    CAST(sum(CASE WHEN $forgotten THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_residue
      |  FROM ex
      |  UNION ALL
      |  SELECT 'token_counts',
      |    CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT),
      |    CAST(sum(CASE WHEN $forgotten THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM tok
      |  UNION ALL
      |  SELECT 'winnow_fp_index',
      |    CAST(count(*) AS BIGINT), CAST(count(DISTINCT fp) AS BIGINT),
      |    CAST(sum(CASE WHEN $forgotten THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM fv
      |  UNION ALL
      |  SELECT 'span_gram_index',
      |    CAST(count(*) AS BIGINT), CAST(sum(occ) AS BIGINT),
      |    CAST(sum(CASE WHEN occ <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM spang)
      |ORDER BY artifact""".stripMargin
  }
}
