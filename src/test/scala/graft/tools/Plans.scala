package graft
package tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dumps `explain("formatted")` for representative queries to
  * PLANS.md — reviewable evidence that scans prune/push down, joins
  * broadcast, aggregations are partial, and top-k never full-sorts.
  * Regenerate after plan-affecting changes:
  * `sbt "Test/runMain graft.tools.Plans [sfDir] [out]"`. */
object Plans {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val picks = Seq(
      "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
      "q_evt_since", "q_evt_retention_capacity", "q_evt_nearest_offset",
      "q_dedup_minhash_lsh", "q_dedup_simhash", "q_dedup_embedding",
      "q_ann_brute_topk", "q_ann_ivf_trained", "q_asof_attribution",
      "q_decontaminate", "q_dedup_incremental", "q_ann_quantized",
      "q_fuzzy_pairs", "q_curate", "q_ann_pq", "q_evt_skip_audit",
      "q_shard_pack", "q_sample_stratified", "q_ngram_dupfrac",
      "q_dedup_semantic", "q_gram_topk", "q_dedup_source_matrix",
      "q_pipeline_pack", "q_compact_latest", "q_bloom_join",
      "q_split_assign", "q_embed_clusters", "q_chunks",
      "q_sample_weighted", "q_tfidf_topterms", "q_source_drift",
      "q_snapshot_diff", "q_quality_topfrac", "q_cluster_rep",
      "q_boilerplate_scrub", "q_corpus_report", "q_drop_ledger",
      "q_split_leakage", "q_decontaminate_semantic", "q_compaction_plan",
      "q_bm25_topk", "q_rrf_fusion", "q_lm_quality", "q_curriculum_order",
      "q_dedup_containment", "q_mix_unimax", "q_text_tokens_bpe",
      "q_bpe_oov_drift", "q_quality_classifier",
      "q_mm_dedup_exact", "q_mm_dedup_near",
      "q_dsir_weights", "q_seq_pack", "q_domain_reweight",
      "q_span_dedup", "q_ppl_buckets", "q_epoch_alloc", "q_qc_calibration",
      "q_span_dedup_incremental", "q_decontaminate_spans",
      "q_span_report", "q_epoch_alloc_materialize", "q_retrieval_eval",
      "q_tokenizer_fertility", "q_truncation_loss", "q_source_divergence",
      "q_zipf_audit", "q_split_balance", "q_hard_negatives",
      "q_vocab_coverage", "q_tokenize_export", "q_snapshot_apply",
      "q_excess_loss_select", "q_decontaminate_widths",
      "q_mix_temperature", "q_gopher_rules", "q_c4_clean",
      "q_proto_prune", "q_sample_pareto", "q_lsh_recall",
      "q_cdc_dedup", "q_cdc_dedup_incremental",
      "q_langid_trained", "q_semantic_recall", "q_profile_approx",
      "q_winnow_pairs",
      "q_ann_bq", "q_quality_qnorm", "q_sample_cluster_cap",
      "q_fineweb_filters", "q_ann_ivf_bq")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans (sf0.01)\n\n")
    sb.append("Generated by `sbt \"Test/runMain graft.tools.Plans\"`; the properties PlanSpec enforces\n")
    sb.append("(PushedFilters, pruned ReadSchema, broadcasts, partial aggs,\n")
    sb.append("TakeOrderedAndProject, no cartesian) are visible below.\n")
    for (name <- picks) {
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
