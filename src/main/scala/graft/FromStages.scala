package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{ceil, col, length, lit, sum}

import graft.operators._
import graft.sources.Tables

/** Steady-state stage materialization for the `from_*` production
  * forms — the plans a 100 TB deployment actually runs per refresh,
  * once stage outputs persist and every consumer reads them instead
  * of recomputing.
  *
  * Shared by TWO gates so the production path can never drift from
  * its price tag:
  *  - [[SparkEntry.queries]] carries every form as a first-class
  *    driver-gated key (DuckDB rows+schema+hash at sf0.01, both
  *    event-table layouts) — each form's oracle is its self-contained
  *    twin's SQL, because the steady-state composition must equal the
  *    one-shot query bit-for-bit (the equalities are additionally
  *    spec-pinned: PipelineOpsSpec, MSeriesSpec, RSeriesSpec,
  *    WinnowingSpec, RemovalSpec, BqAnnSpec, …).
  *  - `Bench.benchFromForms` times the same thunks over the same
  *    persisted stages (stage builds untimed — they are the
  *    refresh-cadence cost a deployment amortizes across consumers).
  *
  * Stages persist to parquet and are read BACK from disk (not
  * cached in memory): the steady-state claim is "consumers read the
  * shared artifact", so the timed/gated plan must include the scan.
  * Every stage is a lazy val — a form forces exactly the stages it
  * needs, nothing else builds. Instances memoize per (session, dir)
  * so Verify's 24 form keys build each stage once, not 24 times.
  */
final class FromStages(spark: SparkSession, sfDir: String) {
  private val root = Files.createTempDirectory("graft_from_stages")

  /** Dir holding this instance's persisted stages (Bench logs it). */
  def rootDir: String = root.toString

  private def persist(name: String, df: DataFrame): DataFrame = {
    df.write.mode("overwrite").parquet(s"$root/$name")
    spark.read.parquet(s"$root/$name")
  }

  // ------------------------------------------------- pipeline stages
  lazy val docs: DataFrame = persist("documents",
    Tables.documents(spark, sfDir).select("doc_id", "source", "lang", "text"))
  lazy val quality: DataFrame = persist("quality", TextAnalysis.quality(spark, sfDir))
  lazy val exact: DataFrame = persist("exact", Dedup.exact(spark, sfDir))
  lazy val clusters: DataFrame = persist("clusters", Dedup.dupClusters(spark, sfDir))
  lazy val decont: DataFrame = persist("decont", Dedup.decontaminate(spark, sfDir))
  lazy val drift: DataFrame = persist("drift", CorpusStats.sourceDrift(spark, sfDir))
  lazy val semDrops: DataFrame = persist("sem_drops", Pipeline.semanticDrops(spark, sfDir))
  lazy val curated: DataFrame = persist("curated",
    Curation.curateFrom(docs, quality, exact, decont))

  // ------------------------------------------ trained-model artifacts
  // train ONCE (the refresh-cadence cost); consumers score under the
  // frozen model — identical artifacts to the oracle's literals
  // (OracleModelCache), so the hash gate covers model + scoring
  lazy val qcModel = QualityClassifier.model(spark, sfDir)
  lazy val bpeModel = Bpe.model(spark, sfDir)
  lazy val lidModel = LangId.model(spark, sfDir)

  // ------------------------------------ M4 standing removal artifacts
  lazy val rmEx: DataFrame = persist("rm_exact", Dedup.exactFrom(docs))
  lazy val rmTok: DataFrame = persist("rm_tok", CorpusStats.tokenCounts(docs))
  lazy val rmFp: DataFrame = persist("rm_fp", Winnowing.fpValuesFrom(spark, docs))
  lazy val rmSpan: DataFrame = persist("rm_span", SpanDedup.spanGramIndex(spark, docs))

  // ----------------------------------- M6 vector-side removal state
  lazy val rmBand: DataFrame = persist("rm_band", Dedup.bandsOf(spark, docs))
  lazy val rmChunk: DataFrame = persist("rm_chunk",
    Chunking.cdcChunks(docs).select("doc_id", "sig", "ctok"))
  // centroid generation + assignment at the corpus's own regime:
  // exact (the frozen-oracle artifact) at gate scale, bounded-sample
  // trainer + IVF-probe assignment above SemanticDedup's
  // ExactRegimeMaxVecs — removal maintenance never retrains either way
  lazy val rmCents: DataFrame = persist("rm_cents",
    SemanticDedup.trainedCentsAtScale(spark, sfDir))
  lazy val rmEmb: DataFrame = persist("rm_emb",
    Tables.embeddings(spark, sfDir).select("vec_id", "embedding"))
  lazy val rmIvf: DataFrame = persist("rm_ivf",
    SemanticDedup.assignAtScale(spark, rmEmb, rmCents)
      .select("vec_id", "embedding", "cid", "cent_sim"))

  // ------------------------------------ M11 standing removal artifacts
  lazy val rmPost: DataFrame = persist("rm_post", Retrieval.bm25Postings(docs))
  lazy val rmTerm: DataFrame = persist("rm_term", Retrieval.bm25TermStats(rmPost))
  lazy val rmCorp: DataFrame = persist("rm_corp", Retrieval.bm25CorpusStats(docs))
  lazy val rmBq: DataFrame = persist("rm_bq",
    rmEmb.select(col("vec_id"),
      graft.functions.Vectors.bitpackFast(spark, col("embedding")).as("words")))

  // F8's stored corpus: at a deployment the clips are BYTES ON DISK;
  // the persist is the untimed synthesis of that corpus
  lazy val vidBlobs: DataFrame = persist("vid_blobs",
    VideoDedup.videoTable(spark, sfDir).toDF())

  // ------------------------------------------- I4 / O4 / Y5 / T1 state
  lazy val semAssigned: DataFrame = persist("sem_assigned", {
    // the I4 regime dial: exact end-to-end at gate scale, the
    // bounded-sample + IVF-probe path above the exact-regime ceiling
    val nVecs = Tables.embeddings(spark, sfDir).count()
    SemanticDedup.assigned(spark, sfDir, 0, 3,
      probeCoarse = if (nVecs <= SemanticDedup.ExactRegimeMaxVecs) 0
                    else SemanticDedup.ProbeAuto)
  })
  lazy val lmScores: DataFrame = persist("lm_scores",
    CharLm.lmScore(spark, sfDir).select("doc_id", "avg_logp"))
  lazy val lmLogp: DataFrame = persist("lm_logp", CharLm.lmModelFrom(docs))
  lazy val fpIdx: DataFrame = persist("fp_index",
    Winnowing.fpValuesFrom(spark,
      docs.where(!Winnowing.isWinNew(col("doc_id"))))
      .select("fp").distinct())
  lazy val spanIdx: DataFrame = persist("span_index",
    SpanDedup.spanGramIndex(spark,
      docs.where(!SpanDedup.isNewBatch(col("doc_id")))))

  // -------------------------------------------- S3/S6 allocation state
  lazy val allocTable: DataFrame = persist("alloc_table",
    DomainMix.epochAlloc(spark, sfDir))
  lazy val allocWeights: DataFrame = persist("alloc_weights",
    DomainMix.domainReweight(spark, sfDir).select("source", "weight"))
  lazy val allocAvail: DataFrame = persist("alloc_avail",
    Tables.documents(spark, sfDir).groupBy("source")
      .agg(sum(ceil(length(col("text")) / lit(4.0)).cast("long"))
        .as("avail_tokens")))

  // ---------------------------------------------- on-disk ANN indexes
  // D7's `cid=`-partitioned IVF index, built from the SAME frozen
  // TrainedK centroid generation the q_ann_ivf_trained oracle carries
  // as a literal — so the probe-only serve over the index sits under
  // the identical DuckDB SQL
  lazy val ivfIdxDir: String = {
    SimilaritySearch.writeTrainedIvfIndex(spark, sfDir, s"$root/ivfidx")
    s"$root/ivfidx"
  }
  lazy val bqIdxDir: String = {
    BinaryAnn.writeBqIndex(spark, sfDir, s"$root/bqidx")
    s"$root/bqidx"
  }

  /** The 24 steady-state forms, in Bench's historical order. Each
    * thunk forces exactly its stage dependencies on first call. */
  val forms: Seq[(String, () => DataFrame)] = Seq(
    "from_curate" -> (() => Curation.curateFrom(docs, quality, exact, decont)),
    "from_pipeline_pack" -> (() => Pipeline.pipelinePackFrom(docs, curated, semDrops)),
    "from_corpus_report" -> (() =>
      Reporting.corpusReportFrom(docs, quality, exact, clusters, decont, drift)),
    "from_drop_ledger" -> (() =>
      Reporting.dropLedgerFrom(decont, exact, clusters, semDrops, quality)),
    "from_quality_classifier" -> (() =>
      QualityClassifier.classifyFrom(docs, qcModel)),
    "from_text_tokens_bpe" -> (() =>
      Bpe.tokenCountsBpeFrom(spark, docs, bpeModel)),
    "from_ann_ivf_index" -> (() =>
      SimilaritySearch.ivfIndexTopK(spark, ivfIdxDir)),
    "from_hard_negatives" -> (() =>
      SimilaritySearch.hardNegativesFromIndex(spark, ivfIdxDir)),
    "from_dedup_semantic" -> (() =>
      SemanticDedup.dedupAssigned(spark, semAssigned, SemanticDedup.DefaultTau)),
    "from_domain_reweight" -> (() =>
      DomainMix.domainReweightFrom(lmScores, docs.select("doc_id", "source"))),
    "from_ppl_buckets" -> (() =>
      CharLm.pplBucketsFrom(lmScores, docs.select("doc_id", "lang"))),
    "from_lm_quality" -> (() => CharLm.lmScoreWith(docs, lmLogp)),
    "from_winnow_incremental" -> (() =>
      Winnowing.winnowIncrementalWith(spark,
        docs.where(Winnowing.isWinNew(col("doc_id"))), fpIdx)),
    "from_qc_calibration" -> (() =>
      QualityClassifier.calibrationFrom(docs, qcModel)),
    "from_span_incremental" -> (() =>
      SpanDedup.spanDedupIncrementalFrom(spark,
        docs.where(SpanDedup.isNewBatch(col("doc_id"))), spanIdx)),
    "from_alloc_materialize" -> (() =>
      DomainMix.epochAllocMaterializeFrom(docs, allocTable)),
    "from_epoch_alloc" -> (() =>
      DomainMix.epochAllocFrom(allocWeights, allocAvail)),
    "from_ann_bq" -> (() =>
      BinaryAnn.bqTopKFromIndex(spark, sfDir, bqIdxDir)),
    "from_profile_sketch" -> (() => Sampling.approxProfile(spark, sfDir)),
    "from_langid_trained" -> (() =>
      LangId.langidTrainedFrom(docs, lidModel)),
    "from_removal_audit" -> (() =>
      Removal.removalAuditWith(spark, rmEx, rmTok, rmFp, rmSpan,
        docs, docs.where(Removal.isForgotten(col("doc_id")))
          .select("doc_id"))),
    "from_removal_audit_v2" -> (() =>
      Removal.removalAuditV2With(spark, rmBand, rmChunk, rmIvf, rmEmb,
        docs.where(Removal.isForgotten(col("doc_id"))).select("doc_id"),
        rmEmb.where(Removal.isForgotten(col("vec_id"))).select("vec_id"),
        rmCents)),
    "from_removal_audit_v3" -> (() =>
      Removal.removalAuditV3With(spark, rmPost, rmTerm, rmCorp, rmBq,
        docs,
        docs.where(Removal.isForgotten(col("doc_id"))).select("doc_id"),
        rmEmb.where(Removal.isForgotten(col("vec_id"))).select("vec_id"))),
    "from_video_meta" -> (() =>
      VideoDedup.videoMetaFrom(spark, vidBlobs)))

  // the companion's hand-maintained name list must track the thunk
  // list exactly — a drift would either throw at gate time or
  // silently drop a form from the bench AND the driver gate
  require(forms.map(_._1) == FromStages.names,
    "FromStages.forms and FromStages.names have drifted")

  private val byName = forms.toMap

  def run(name: String): DataFrame = byName(name)()

  /** Drop the persisted stages (Bench calls this after timing) and
    * evict the memo entry: a later of()/run() for the same
    * (session, dir) rebuilds fresh stages instead of handing out
    * frames over deleted files. */
  def cleanup(): Unit = {
    FromStages.evict(this)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(root.toFile)
  }
}

object FromStages {
  /** Form names in declaration order (Bench's timing order). */
  val names: Seq[String] = Seq(
    "from_curate", "from_pipeline_pack", "from_corpus_report",
    "from_drop_ledger", "from_quality_classifier", "from_text_tokens_bpe",
    "from_ann_ivf_index", "from_hard_negatives", "from_dedup_semantic",
    "from_domain_reweight", "from_ppl_buckets", "from_lm_quality",
    "from_winnow_incremental", "from_qc_calibration", "from_span_incremental",
    "from_alloc_materialize", "from_epoch_alloc", "from_ann_bq",
    "from_profile_sketch", "from_langid_trained", "from_removal_audit",
    "from_removal_audit_v2", "from_removal_audit_v3", "from_video_meta")

  // keyed on the SparkSession OBJECT (reference identity via a
  // WeakHashMap, not identityHashCode — hash values can collide
  // across sessions and a stopped session's entry must not be handed
  // to a new one). NOTE: the WeakHashMap does NOT make entries
  // collectable — each FromStages value strongly references its
  // session key (the classic value→key pin), so lifetime management
  // is cleanup()/evict() (Bench calls cleanup() after timing), not GC
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, FromStages]]())

  /** Memoized per (session, dir): Verify's 24 keys and a whole test
    * suite share one stage build per corpus. */
  def of(spark: SparkSession, sfDir: String): FromStages =
    cache.synchronized {
      cache.computeIfAbsent(spark, _ => scala.collection.mutable.Map.empty)
        .getOrElseUpdate(sfDir, new FromStages(spark, sfDir))
    }

  private def evict(s: FromStages): Unit = cache.synchronized {
    cache.values.forEach(m => m.filterInPlace((_, v) => v ne s))
  }
}
