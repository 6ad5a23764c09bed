package graft
/** Regenerates PLANS.md: formatted physical plans for the
  * scale-critical queries. Writes the file DIRECTLY (first line = the
  * first plan header) instead of relying on stdout capture — the
  * committed artifact used to open with ~45 lines of sbt/log4j boot
  * noise and an `[info] ` prefix on all 21,914 lines (round-14 advice).
  *
  *   sbt "Test/runMain graft.PlanAudit"            → PLANS.md
  *   sbt "Test/runMain graft.PlanAudit q01_...,d03_..."  (subset, stdout only)
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.01"
    val targets = args.headOption.map(_.split(",").toSet)
    val out = new StringBuilder
    def show(name: String): Unit = if (targets.forall(_.contains(name))) {
      out ++= s"=============== $name ===============\n"
      out ++= SparkEntry.queries(name)(spark, d).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      out ++= "\n"
    }
    Seq("q01_pricing_summary","q03_top_revenue","q05_region_revenue",
        "q06_revenue_filter","d01_exact_dedup","d03_ngram_jaccard",
        "d04_minhash_lsh","d05_simhash","d06_char_ngram","d07_decontamination","s01_cosine_topk",
        "s04_blocked_neardup","q17_range_join","q64_asof_join",
        "d10_collapsed_jaccard","d11_delta_neardup","s06_delta_neardup",
        "c01_curation_pipeline","q67_recursive_cte",
        "s07_knn_graph","q68_zorder","c03_training_mix",
        "s08_ivf_neardup","t16_merge_pairs","c05_leakage_safe_split",
        "d13_source_overlap","t17_novelty",
        "d14_containment","s09_label_cohesion","t18_tfidf_terms",
        "m06_chunk_neardup","c04_corpus_report","s10_ivf_knn",
        "c06_split_audit","d15_substring_spans",
        "t19_approx_quantiles","t20_heavy_hitters","c07_snapshot_diff",
        "s11_semantic_survivors","d16_bloom_decontamination",
        "t21_lm_quality", "t22_gopher_rules", "t23_normalize",
        "s12_pq_topk", "s13_ivfadc_topk", "c08_temperature_mix",
        "t24_hash_classifier", "s14_int8_topk", "t25_bm25",
        "s15_mmr_topk", "t26_chunk_windows", "d17_lsh_clusters",
        "c09_source_cap", "c10_token_budget", "c11_token_budget_pruned",
        "t27_rrf_fusion", "c12_incremental_curation",
        "c13_rejection_reasons", "t28_sketch_profile",
        "s16_binary_topk", "t30_bpe_encode", "c14_token_budget_bpe",
        "c15_token_budget_bpe_pruned", "t31_bpe_packing",
        "s17_ivf_persisted", "s18_ivf_append_serve",
        "t32_tokenizer_report", "d18_dedup_substrings",
        "d19_delta_substrings", "s19_bench_decontamination",
        "c16_dsir_selection", "m09_bench_decontamination",
        "c17_decontamination_report", "s21_probed_decontamination",
        "q72_series_topk", "d20_intradoc_repeats",
        "s22_ivf_recall_audit", "d21_lsh_index_probe",
        "m10_payload_index_probe",
        "s23_semdedup", "s24_range_search", "s25_filtered_topk",
        "t34_gopher_rules", "t35_ngram_novelty", "t36_source_drift",
        "t37_coverage_curve", "c18_sequence_manifest",
        "c19_quality_sweep", "m11_perceptual_clusters",
        "m12_cdc_neardup", "q73_markov_transitions",
        "s26_semdedup_collapsed", "t38_repetition_signals",
        "m13_storage_dedup", "m14_cdc_storage_dedup",
        "s27_ivfadc_persisted", "c20_mixture_diversity",
        "d22_survival_curve", "s28_adc_recall_audit",
        "m15_byte_profile", "c21_token_yield",
        "s29_labeled_index_serve",
        "c22_pii_canary_audit", "t39_unigram_surprisal",
        "s30_refined_topk", "m16_modality_sniff",
        "c23_filter_agreement", "d23_cluster_mass",
        "d24_keep_best", "m17_snapshot_transfer",
        "d25_incremental_clusters", "d26_lsh_delete_probe",
        "s31_ivf_delete_serve", "m18_payload_delete_probe",
        "t40_lang_mismatch", "t41_bm25_persisted",
        "d27_cluster_delete", "c24_budget_allocation",
        "u01_lsh_update_probe").foreach(show)
    if (targets.isEmpty) {
      java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
        out.toString.getBytes("UTF-8"))
      println(s"wrote PLANS.md (${out.toString.linesIterator.size} lines)")
    } else println(out.toString)
    spark.stop()
  }
}
