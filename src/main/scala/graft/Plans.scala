package graft

import org.apache.spark.sql.SparkSession

/** Dumps `explain("formatted")` for the headline queries to PLANS.md —
  * the scale-review artifact: every plan here should show pushed filters,
  * pruned schemas, broadcast dim joins, partial aggregation, and no
  * cartesian products.
  */
object Plans {
  val headline: Seq[String] = Seq(
    "scan_projected_pruned", "sink_partitioned_pruning", "join_star_multiway",
    "join_broadcast_dim", "join_bucketed_colocated", "agg_groupby_hash",
    "agg_salted_skew", "window_topk_per_group", "window_ntile_split",
    "dedup_minhash_lsh", "dedup_simhash", "sim_ann_lsh_topk",
    "sim_ann_ivf_topk", "sim_cosine_topk", "text_quality_score",
    "clean_impute_neighborhood_clip", "ml_palette_render",
    "sink_metrics_compact_serve", "corpus_curation_end2end",
    "window_range_interval", "stream_tumbling_counts",
    "join_bloom_runtime_filter", "text_repetition_filter",
    "seq_pack_chunks", "vocab_build_topk", "ml_embedding_avg_pool",
    "ml_conv2d_join_agg", "ml_conv2d_5x5_multiband",
    "ml_conv_transpose_scatter", "ml_onehot_encode",
    "decontaminate_ngram_overlap", "ml_cnn_forward_compose",
    "ml_cnn_infer_render", "sim_ann_ivfpq_topk", "dedup_semantic_embcluster",
    "corpus_perplexity_filter", "dedup_repeated_spans",
    "graph_pagerank_unrolled", "graph_knn_triangles",
    "window_sessionize_gap", "ml_linreg_normal_eq", "ml_roc_auc",
    "text_bpe_pair_counts", "funnel_stage_conversion", "scan_npz_roundtrip",
    "agg_weighted_median", "decontaminate_semantic_embed",
    "sample_weighted_reservoir", "join_asof_tolerance",
    "sim_maxsim_multivector",
    // round-13 additions
    "join_full_outer", "join_null_safe_eq", "agg_bitmap_distinct",
    "agg_freq_items_misra_gries", "ml_quantize_int8",
    "text_unicode_normalize", "dedup_url_canonicalize",
    "funnel_retention_cohort", "ml_calibration_bins",
    "window_streak_islands", "corpus_upsample_epochs", "graph_kcore_prune",
    // round-13 second wave
    "sim_bm25_topk", "window_anomaly_zscore", "seq_sliding_context",
    "sink_scd2_history", "graph_jaccard_linkpred", "ml_ndcg_at_k",
    "agg_mad_robust", "scalar_haversine_legs", "ml_average_precision",
    "ml_gbt_boost_round", "window_drawdown_max", "dedup_edit_distance",
    "ml_kfold_cv", "window_cusum_alert", "agg_bootstrap_ci",
    "agg_chisq_independence", "agg_ks_test",
    // round-13 fifth wave
    "window_rolling_median", "agg_mannwhitney_u", "agg_ohlc_resample",
    "text_cooccur_pmi", "ml_knn_classify",
    // round-13 sixth wave
    "window_rolling_corr", "agg_gini_coefficient", "ml_feature_hashing",
    "text_zipf_fit", "join_dpp_partition_prune",
    // round-13 seventh wave
    "ml_naive_bayes_lang", "funnel_path_trigrams",
    "text_bigram_cond_entropy", "window_time_to_conversion",
    // round-14 additions
    "corpus_perplexity_bigram_filter", "sim_ann_opq_topk",
    "text_bpe_encode_tokens", "stream_cdc_upsert_sink",
    "sim_hybrid_rrf_topk", "graph_label_propagation",
    "window_seasonal_decompose", "agg_equidepth_deciles",
    "agg_halflife_decay", "curation_k_anonymity",
    "sink_incremental_agg_maintain", "sink_dynamic_partition_overwrite",
    // round-15 additions
    "sink_blob_content_addressed", "ml_layernorm_rmsnorm", "ml_rope_rotate",
    "ml_attention_entropy", "ml_lora_matvec", "graph_scc_knn",
    // round-15 second wave
    "ml_moe_route_top2", "ml_mlp_gelu_forward", "ml_topp_nucleus_sample",
    "graph_hits_hubs_auth", "graph_bipartite_copurchase",
    "funnel_markov_transitions", "window_bollinger_bands",
    "curation_dp_count_laplace", "ml_als_step", "ml_int4_quantize_pack",
    "sim_ann_graph_greedy", "multimodal_image_phash",
    "ml_transformer_block_forward", "ml_speculative_decode_accept",
    "ml_embedding_whitening", "corpus_perplexity_kneser_ney",
    "ml_infonce_contrastive", "ml_beam_search_decode",
    // round-16 additions
    "sink_bloom_colindex_skipping", "join_cbo_reorder",
    "sink_bucket_pruning", "ml_kv_cache_decode",
    // round-17 addition
    "dedup_exact_substring_runs",
    // round-18 additions
    "text_unigram_train", "dedup_suffix_array_rank", "ml_dpo_pair_loss",
    // round-19 additions
    "stream_cusum_alert", "curation_quality_drift_psi", "scan_xml_roundtrip",
    // round-20 additions
    "text_html_boilerplate_strip", "stream_incremental_agg_maintain",
    "multimodal_audio_frame_energy")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.noCache = true // show the real parquet scans, not the cache
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.Plans` on `$sfDir`. Things to look for:\n")
    sb.append("`PushedFilters` / narrow `ReadSchema` on scans, `BroadcastHashJoin`\n")
    sb.append("on dimension hops, `partial_*` aggregate modes before exchanges,\n")
    sb.append("`TakeOrderedAndProject` for top-k, and no `CartesianProduct` on\n")
    sb.append("any keyed path.\n")
    for (id <- headline) {
      // sink_bucket_pruning's headline dump must show the bucket-prune
      // decision (`SelectedBucketsCount: 1 out of 8`). With the default
      // autoBucketedScan=true, DisableUnnecessaryBucketedScan rewrites the
      // scan to `Bucketed: false (disabled by query planner)` — pruning
      // still applies in createReadRDD (BucketPruningSpec pins the
      // executed-rows differential), but the dump alone would read as if
      // the mechanism were off. Disable the cosmetic rewrite for this one
      // dump (VERDICT r16 item 5).
      val bucketOff =
        if (id == "sink_bucket_pruning")
          Seq("spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")
        else Nil
      val plan = graft.queries.Confs.scoped(spark, bucketOff: _*) {
        val df = Registry.byId(id).run(spark, sfDir)
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      }
      sb.append(s"\n## $id\n\n```\n$plan```\n")
      if (id == "join_cbo_reorder") {
        // The registry row executes eagerly inside the CBO scope and
        // returns a checkpoint, so its plan above is just the result
        // scan — show the decision itself: the OPTIMIZED LOGICAL join
        // tree with and without stats-driven reorder.
        val t = graft.queries.Joins.cboTables(spark, sfDir)
        val sql = graft.queries.Joins.cboSql(t)
        val syntax = spark.sql(sql).queryExecution.optimizedPlan.treeString
        val stats = graft.queries.Confs.scoped(spark, graft.queries.Joins.CboConfs: _*)(
          spark.sql(sql).queryExecution.optimizedPlan.treeString)
        sb.append(s"\n### join_cbo_reorder — optimized logical plan, CBO off (syntax order)\n\n```\n$syntax```\n")
        sb.append(s"\n### join_cbo_reorder — optimized logical plan, CBO on (stats-driven reorder)\n\n```\n$stats```\n")
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
