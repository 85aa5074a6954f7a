package graft

/** Dev tool: dump `explain("formatted")` for representative queries so
  * plan regressions (lost pushdown, missed broadcast, codegen breaks)
  * are visible in review. Usage:
  *   sbt 'runMain graft.Explain <sfDir> [queryName ...]'
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("s5_scan_filtered", "q1_pricing_summary",
        "j4_join_revenue_nation", "a1_dedup_lastwrite",
        "j2_disjunctive_semi", "w1_sessionization", "dedup_minhash_lsh",
        "sim_ann_lsh", "t4_tumbling_window", "api_game_history_keyset",
        "dedup_embed_cosine", "dedup_ngram_jaccard", "j6_salted_join",
        "samp_stratified", "samp_train_test", "f5_try_cast_int",
        "sim_ivf_topk", "sim_cosine_topk", "vocab_topk", "emb_centroids",
        "text_repetition", "f1_stateful_sessions", "dedup_keep_list",
        "text_decontaminate", "dedup_incremental", "dedup_keep_best",
        "sim_ann_lsh_mp", "dedup_paragraph", "sim_q8_topk",
        "pack_sequences", "samp_temperature", "text_tfidf_topk",
        "pipeline_curate", "samp_fixed_n", "text_line_rules",
        "text_url_canonical", "web_host_gate", "pipeline_curate_v4",
        "layout_zorder_scan", "src_jsonl_roundtrip",
        "j7_bloom_semi", "j8_scd2_history", "layout_compact",
        "pipeline_curate_v2", "text_decontaminate_bloom",
        "dedup_containment", "corpus_stats", "w4_funnel", "w5_retention",
        "ops_diff_versions", "ops_quality_report", "ops_profile", "text_bm25_topk",
        "retrieval_hybrid_rrf", "text_bm25_pinned",
        "retrieval_hybrid_rrf_pinned", "text_chunk_overlap",
        "j8_scd2_merge", "mm_binary_ingest", "mm_dedup_exact",
        "pipeline_chunk_pack", "text_bm25_chunks",
        "dedup_passage_spans", "dedup_passage_clean",
        "text_decontaminate_spans", "text_novelty_score",
        "text_classifier_score", "export_shard_manifest",
        "samp_mixture_plan", "samp_mixture_epochs", "emb_nn_classify",
        "src_orc_roundtrip",
        "dedup_passage_top", "sim_ivf_append", "pipeline_curate_v3",
        "graph_pagerank", "graph_degrees", "graph_trustrank", "graph_hits", "j9_fuzzy_match",
        "j8_scd2_stream", "w7_transitions", "w8_interval_union",
        "w9_gap_fill", "text_collocations",
        "ops_schema_conform", "ops_schema_evolution",
        "a9_salted_count_distinct", "web_domain_block",
        "text_blocklist", "pipeline_curate_v5", "export_range_sorted",
        "w10_capped_sessions", "ops_schema_drift",
        "vocab_bpe_train", "mm_decode_av",
        "ops_incr_agg", "ops_incr_agg_stream", "samp_split_safe",
        "sim_hard_negatives", "pack_dpo_pairs", "pack_length_buckets",
        "text_heavy_hitters", "text_heavy_hitters_exact",
        "text_lm_train", "text_lm_pinned", "text_lm_score",
        "text_lm_buckets", "ops_incr_distinct", "text_heavy_hitters_stream",
        "pipeline_curate_v6", "text_fix_encoding", "sim_hard_negatives_ann",
        "pack_sft", "text_html_extract", "web_anchor_index",
        "pipeline_curate_v7", "ops_incr_quantile", "ops_incr_quantile_stream",
        "w10_capped_sessions_stream", "web_anchor_bm25",
        "eval_recall_at_k", "eval_mrr", "eval_ndcg",
        "w11_windowed_quantile", "w11_windowed_quantile_stream",
        "mm_phash", "mm_dedup_near", "t2_watermark_dedup",
        "pipeline_curate_v8", "mm_audio_fp", "mm_audio_near",
        "pipeline_curate_v9", "mm_stream_admit", "mm_audio_stream_admit",
        "mm_mp3_exact", "mm_ogg_exact", "mm_opus_exact", "mm_m4a_exact",
        "text_decontaminate_served", "text_decontaminate_spans_served",
        "mm_frame_sample", "mm_frame_near", "pipeline_curate_v10",
        "mm_frame_stream_admit", "mm_clip_exact", "mm_webm_exact",
        "mm_ts_exact", "mm_avif_exact", "mm_oggflac_exact",
        "warc_ingest", "warc_extract", "pipeline_curate_v11",
        "pipeline_curate_v12")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
