package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for the headline queries to PLANS.md —
  * reviewable evidence of scan pruning, pushdown, and join strategy
  * without rerunning the engine.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = Session.local(8)

    val headline = Seq(
      "q04_supplier_kpis", "q07_supplier_risk", "q12_filtered_risk",
      "q22_minhash_candidates", "q24_ngram_jaccard", "q25_knn_bruteforce",
      "q27_event_windows", "q29_top_event_per_user", "q32_revenue_rollup",
      "q35_topk_per_key", "q36_ann_ivf", "q38_embedding_neardup",
      "q40_range_join", "q43_user_pivot", "q46_decontaminate",
      "q54_dedup_clusters", "q55_bm25_search", "q56_centroid_outliers",
      "q61_kmeans_train", "q63_pack_sequences", "q64_event_funnel",
      "q66_item_cooccurrence", "q71_dataset_card", "q72_value_windows",
      "q74_event_day_slice", "q75_ann_ivf_trained",
      "q77_fuzzy_decontaminate", "q78_ingest_neardup",
      "q80_source_mirrors", "q81_shuffle_shards", "q82_dup_spans",
      "q83_ann_rerank", "q85_containment_pairs", "q87_containment_dedup",
      "q88_filter_funnel", "q89_keep_ledger", "q94_retention_cohorts",
      "q96_incremental_kpis", "q97_tfidf_keywords", "q100_ann_pq",
      "q107_zorder_cells", "q109_session_overlap", "q110_item_triangles",
      "q113_join_cardinality", "q115_dedup_search", "q118_pit_join",
      "q126_bloom_decontaminate", "q136_ann_pq_trained",
      "q138_sketch_rollup", "q139_oov_rate", "q141_priority_sample",
      "q142_link_prediction", "q143_label_agreement", "q144_pca_power",
      "q145_bootstrap_ci", "q147_conversion_z", "q148_quantile_rollup",
      "q149_metric_corr", "q150_benford_audit", "q196_avi_frames",
      "q197_video_neardup", "q199_mp4_keyframes", "q200_bpe_tokenize",
      "q201_hll_distinct", "q202_orc_mirror", "q203_bigram_lm",
      "q204_rendezvous_shards", "q205_zipf_slope", "q206_char_entropy",
      "q207_native_sessions", "q208_audio_energy", "q209_heldout_ppl",
      "q210_oof_encoding", "q213_mp4_fragmented", "q214_dp_release",
      "q215_dedup_agreement", "q216_ivm_join", "q217_audio_tones",
      "q218_quality_model", "q219_spearman_corr", "q221_schema_evolution",
      "q222_time_travel", "q223_mixture_reweight", "q224_h264_meta",
      "q225_exact_quantiles", "q226_psi_drift", "q227_robust_outliers",
      "q228_partition_evolution", "q229_nfc_audit", "q230_ppjoin_pairs",
      "q132_mann_whitney", "q133_ks_test",
      "q231_warc_ingest", "q232_html_extract", "q233_blocklist_screen",
      "q234_dsir_weights", "q235_url_canonical", "q236_ivf_recall",
      "q237_robots_audit", "q238_hamming_pairs", "q239_luhn_audit",
      "q240_merkle_diff", "q241_cdc_chunks", "q242_score_calibration",
      "q244_cuped_readout",
      "q246_pareto_suppliers", "q247_lpm_enrich", "q248_conformal_coverage",
      "q251_link_graph", "q253_vocab_richness", "q254_yule_k",
      "q255_ivf_delta", "q256_geo_rollup", "q257_part_margins")

    val md = new StringBuilder
    md.append("# PLANS — formatted physical plans of the headline queries\n\n")
    md.append(s"Generated by `graft.PlanDump` on `$sf`. What to look for: " +
      "`PushedFilters` and narrowed `ReadSchema` on every FileScan, " +
      "`BroadcastHashJoin` for dimension sides, `ShuffledHashJoin` + " +
      "ReusedExchange on the LSH band self-join, two-phase " +
      "`HashAggregate` pairs, `WindowGroupLimit` ahead of ranking " +
      "windows, `TakeOrderedAndProject` for top-k.\n")
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      md.append(s"\n## $name\n\n```\n")
      md.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      md.append("```\n")
    }
    Files.writeString(Paths.get(out), md.toString)
    println(s"[plandump] wrote $out (${headline.size} plans)")
    spark.stop()
  }
}
