"""Operator registry: one named, oracle-checked query per SURVEY.md §2b row.

``all_ops()`` aggregates every module's OPS dict; ``__spark_entry__.py``
exposes them to the driver as ``queries()`` / ``oracle_sql()``.
"""

from __future__ import annotations

from my_polars_ai_spark.operators.base import Op

_MODULES = (
    "relational",
    "windows",
    "reshape",
    "scalar_funcs",
    "timeseries",
    "asof",
    "ml",
    "dedup",
    "similarity",
    "text",
    "multimodal",
    "udfs",
    "sql_api",
    "extras",
    "fuzzy",
    "tpch_extra",
    "stats_tests",
    "classic_ml",
    "graph",
    "streaming_live",
)


# Registry ordering contract: the driver's CORRECTNESS gate verifies a
# prefix window of ``all_ops()`` insertion order (first 50 entries).
# _PRIORITY pins the window's composition.  Round-3/4 rotation: the
# r01+r02 windows cumulatively gave 84 ops driver-side green rows; this
# window keeps one canary per family and promotes 35 ops that have NEVER
# had a driver row.
# Round-5 rotation plan (swap these in for the non-canary block,
# keeping the same family canaries). Two groups now await a first
# driver row:
# (a) the 16 pre-r4 stragglers:
#   first_last_nth_value, string_pad_funcs, misc_scalar_funcs,
#   bit_aggregates, roc_points, kmeans_segments, profile_columns,
#   row_udf_label, boxplot_stats, mode_per_group, rolling_min_max,
#   weighted_avg, hash_funcs, key_skew_profile, string_agg_per_group,
#   group_topk_percent
# (b) the 21 ops added in round-4 session 2:
#   tpch_q2_min_cost_supplier, tpch_q7_volume_shipping,
#   tpch_q8_market_share, tpch_q9_product_profit,
#   tpch_q11_important_parts, tpch_q12_priority_shipping,
#   tpch_q13_customer_distribution, tpch_q16_supplier_part_stats,
#   tpch_q20_top_shippers, tpch_q21_waiting_suppliers, pii_redact,
#   remove_boilerplate_tokens, benchmark_contamination,
#   repetition_2gram_ratio, view_purchase_attribution, label_centroids,
#   python_datasource_scan, pq_adc_topk, variant_json_funcs,
#   near_dup_triangle_stats, bloom_filter_semi_join,
#   linear_counting_distinct, weighted_bernoulli_sample,
#   audio_frame_features, scene_change_detection, merge_partial_aggs,
#   event_transition_matrix, histogram_2d, feature_minmax_scale,
#   dedup_cluster_size_hist, token_cooccurrence_pmi,
#   source_quality_report
# (c) the 66 ops added in round-4 session 3 (registry 175 -> 241):
#   scd2_history, dq_audit, pareto_frontier_suppliers,
#   rolling_trend_slope, dup_chunk_fraction, grouped_agg_sum_squares,
#   asof_join_tolerance, rolling_wau, snapshot_diff,
#   unigram_logprob_score, zorder_key, array_agg_topk,
#   compaction_plan, interevent_time_hist, groupwise_ols_slope,
#   chi_square_lang_source, benford_first_digit, session_bounce_rate,
#   running_distinct_event_types, wow_revenue_change, gini_per_nation,
#   spearman_per_nation, train_val_test_split, padding_waste_stats,
#   dedup_keep_longest, source_overlap_matrix, vocab_growth_curve,
#   hierarchy_rollup, session_path_counts, weighted_median_per_group,
#   join_null_safe, image_resize_stats, sketch_merge_running_distinct,
#   cascade_delete_audit, bpe_merge_step, dow_seasonality,
#   ttc_daily_median, volume_spike_days, embedding_dim_stats,
#   rebalance_sample_plan, record_linkage_parts, co_supplier_pairs,
#   lang_id_confusion, max_concurrent_sessions, zscore_outlier_exact,
#   late_arrival_fraction, inverted_index_build, minhash_banding_curve,
#   arrow_doc_meta, incremental_rollup_maintenance,
#   join_cardinality_estimate, corpus_table_profile,
#   int8_quantize_embeddings, source_mixing_weights,
#   density_core_points, zipf_fit, embedding_dbscan_clusters,
#   basket_size_hist, neardup_degree_hist, activity_entropy,
#   cohort_revenue_ltv, lead_time_by_priority, repeat_customer_share,
#   brand_supplier_hhi, discount_band_elasticity, top_tokens_by_lang
# (d) the 64 ops added in round-4 session 4 (registry 241 -> 305):
#   dedup_prefix_filter_jaccard, heavy_hitters_tokens,
#   global_shuffle_row_number, token_entropy_per_doc,
#   decay_weighted_revenue, hard_negatives_topk,
#   centroid_outlier_scores, chunk_sliding_windows,
#   basket_lift_brand_pairs, ohlc_bars_hourly, weighted_sample_topk,
#   recursive_cte_hierarchy, psi_source_drift,
#   label_centroid_similarity, bigram_logprob_score,
#   open_lineitems_per_day, calibration_curve_langid,
#   ab_test_two_proportion, dedup_cluster_pointer_doubling,
#   count_min_estimates, winsorized_mean_by_type, rfm_segments,
#   embedding_covariance, k_anonymity_audit, mutual_info_lang_source,
#   token_coverage_curve, setops_all_multiplicity,
#   union_allow_missing_columns, abc_part_classification,
#   scd2_point_in_time_join, sentiment_lexicon_score,
#   cross_table_daily_correlation, neardup_blast_radius,
#   dedup_cluster_best_quality, dow_adjusted_spike_days,
#   retention_halflife_fit, wau_overlap_jaccard, ar_aging_buckets,
#   segment_migration_matrix, spc_control_chart,
#   chunk_containment_pairs, revenue_max_drawdown,
#   cusum_change_detection, cuped_adjusted_ab, kaplan_meier_churn,
#   did_estimate, logrank_test_churn, forecast_backtest_naive,
#   price_index_laspeyres, yoy_revenue_change, theil_decomposition,
#   star_denormalize_wide, udtf_ngrams_polymorphic,
#   sql_scripting_above_avg, sql_parameterized_query,
#   gains_chart_langid, wilson_intervals_conversion,
#   cluster_lang_purity, training_manifest,
#   fano_burstiness_per_user, early_activity_retention_corr,
#   neardup_pair_explain, dow_hour_heatmap,
#   distinctive_tokens_per_source
# 16 + 32 + 66 + session-4's additions + 12 canaries = candidates
# across r5/r6/r7 windows:
# rotate out canaries whose families the
# new ops re-cover (stratified_sample -> weighted_bernoulli_sample,
# pandas_udf_sigmoid -> grouped_agg_sum_squares, tumbling_window_hourly
# -> view_purchase_attribution, asof_join_backward ->
# asof_join_tolerance, and fold the rest across r5/r6 windows) to close
# out full-registry driver attestation.
# Everything not listed follows in module order.
# _PRIORITY_R4 was the active window for rounds 3-4; kept for the
# rotation audit trail (every name in it stays registered).
_PRIORITY_R4 = (
    # family canaries — already driver-green in r01/r02, kept so every
    # north-star family still has a fresh green row each round
    "flagship_revenue_by_nation",
    "tpch_q1_pricing_summary",
    "dedup_minhash_lsh",
    "dedup_cluster_canonical",
    "ann_lsh_cosine",
    "tfidf_top_terms",
    "asof_join_backward",
    "tumbling_window_hourly",
    "pandas_udf_sigmoid",
    "udtf_bigrams",
    "stratified_sample",
    "sql_api_revenue",
    # rows-only ops gaining oracles this round (driver re-attests them)
    "ema_per_user",
    "ivf_cosine_topk",
    "multimodal_decode",
    # never-driver-verified: TPC-H / relational tail
    "tpch_q17_small_qty_revenue",
    "revenue_share_of_region",
    "grouping_sets",
    "salted_group_agg",
    "join_salted_skew",
    "merge_upsert",
    "describe_stats",
    "stats_extended",
    "anomaly_mad",
    # never-driver-verified: windows / time-series
    "ntile_quartiles",
    "rolling_range_7d",
    "sliding_window_1h_30m",
    "daily_rollup",
    "sequence_islands",
    "funnel_conversion",
    "retention_cohorts",
    "diff_pct_change",
    "forward_fill",
    "time_gapfill",
    "interpolate_linear",
    # never-driver-verified: as-of variants
    "asof_join_forward",
    "asof_join_nearest",
    # never-driver-verified: scalar-function families
    "array_funcs",
    "higher_order_array_funcs",
    "array_set_ops",
    "struct_map_access",
    "json_funcs",
    "datetime_convert",
    # never-driver-verified: ML / stats / text / multimodal
    "corr_matrix",
    "impute_mean",
    "confusion_matrix",
    "doc_fingerprint",
    "top_tokens",
    "bm25_scores",
    "frame_sample_chunks",
)


# Round-5 window, staged and test-validated THIS round so the rotation
# is a one-line flip (_PRIORITY = _PRIORITY_R5) at the start of r5 —
# never again an end-of-round rename landing half-finished (the r3
# failure mode). Composition: the 12 family canaries with the planned
# swaps applied (backward->tolerance as-of, tumbling->attribution,
# sigmoid->GROUPED_AGG UDAF, stratified->weighted sampling), the 16
# pre-r4 stragglers, and 22 of round-4-session-2's ops. The 10
# remaining r4s2 ops + the 52 session-3 ops take the r6 window.
_PRIORITY_R5 = (
    # canaries (swaps applied)
    "flagship_revenue_by_nation",
    "tpch_q1_pricing_summary",
    "dedup_minhash_lsh",
    "dedup_cluster_canonical",
    "ann_lsh_cosine",
    "tfidf_top_terms",
    "asof_join_tolerance",
    "view_purchase_attribution",
    "grouped_agg_sum_squares",
    "udtf_bigrams",
    "weighted_bernoulli_sample",
    "sql_api_revenue",
    # pre-r4 stragglers — first driver row
    "first_last_nth_value",
    "string_pad_funcs",
    "misc_scalar_funcs",
    "bit_aggregates",
    "roc_points",
    "kmeans_segments",
    "profile_columns",
    "row_udf_label",
    "boxplot_stats",
    "mode_per_group",
    "rolling_min_max",
    "weighted_avg",
    "hash_funcs",
    "key_skew_profile",
    "string_agg_per_group",
    "group_topk_percent",
    # round-4 session-2 ops — first driver row
    "tpch_q2_min_cost_supplier",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q11_important_parts",
    "tpch_q12_priority_shipping",
    "tpch_q13_customer_distribution",
    "tpch_q16_supplier_part_stats",
    "tpch_q20_top_shippers",
    "tpch_q21_waiting_suppliers",
    "pii_redact",
    "remove_boilerplate_tokens",
    "benchmark_contamination",
    "repetition_2gram_ratio",
    "label_centroids",
    "python_datasource_scan",
    "pq_adc_topk",
    "variant_json_funcs",
    "near_dup_triangle_stats",
    "bloom_filter_semi_join",
    "linear_counting_distinct",
    "audio_frame_features",
)

# Round 5: the staged flip, executed. The driver's 50-entry CORRECTNESS
# window now attests the R5 composition above.
# Rotation ledger after r5 (assuming CORRECTNESS_r05 lands): r01+r02
# attested 84 ops, r5 window attests 38 more; the r4 window's 36 ops
# have no recorded driver rows (CORRECTNESS_r04.json never landed) —
# if r04 stays missing, fold them into the r8 window.
# R7 window plan (stage the tuple in round 6, flip in round 7): 6
# canaries + the NEXT 44 never-attested ops in registry order, i.e. the
# stats/dedup-diagnostics/embedding block from feature_minmax_scale
# through token_cooccurrence_pmi plus the text-pipeline block through
# top_tokens_by_lang. The 29 round-5 additions (stats_tests module,
# wave-2..7 text/similarity/extras/sql ops) queue after those in r8/r9.
# Round-5 session-2 additions (waves 11-31, 50 ops — registry 340->390):
#   apply_in_arrow_center, attribution_models_compare, auc_langid_score,
#   basket_triple_support, bh_fdr_pairwise, binary_hamming_topk,
#   business_days_lead_time, cohens_kappa_langid, collated_group_count,
#   conformal_daily_interval, cross_clip_frame_overlap,
#   decision_stump_train, degree_assortativity, ece_langid,
#   feature_information_gain, flesch_proxy_readability,
#   hits_containment_step, hypothetical_rank_of_value, image_ahash_pairs,
#   ipf_raking_step, item_item_cf_topk, keyset_pagination_page,
#   kfold_slope_stability, local_clustering_coefficient,
#   loo_nation_mean_influence, markov_3step_purchase,
#   markov_conditional_entropy, mde_power_analysis, mmr_diversified_topk,
#   naive_bayes_langid, nearest_centroid_confusion,
#   ols_price_on_qty_discount, pca_power_iteration_step,
#   qi_generalization_ladder, rbo_rankings, rrf_fusion_topk,
#   seasonal_strength_daily, session_window_dynamic_gap,
#   sprt_boundary_crossing, sql_group_by_all, sql_identifier_clause,
#   sql_offset_pagination, sql_unpivot_syntax, stratified_ate_discount,
#   theil_sen_daily_slope, ts_decompose_daily, twap_daily_value,
#   ucb1_variant_scores, wasserstein_1d_priority, woe_iv_encoding.
# They append to the registry tail and join the r8/r9 first-attestation
# queue.


# Round-6 window, staged in round 5, amended and flipped live in round
# 6. Canary count drops 12 -> 4 (flagship + the three LLM-pipeline
# north stars; the TPC-H and SQL families are covered by this window's
# own 8 TPC-H-tail rows) to widen first-attestation throughput. Two
# slots re-attest the round-5 driver reds — `tpch_q20_top_shippers`
# (oracle HUGEINT un-recast) and `misc_scalar_funcs` (array column the
# driver canonicalizer can't hash) — both fixed this round and green in
# the local mirror; driver-red is the hard signal, so they must flip
# green in CORRECTNESS_r06. The 44 first-attestation ops are the first
# 44 never-attested ops in registry order: the TPC-H tail (q4/q6/q10/
# q14/q15/q18/q19/q22), the relational/extras block, and the
# time-series/event-analytics block through dow_hour_heatmap. The
# remaining ~100 take r7+.
_PRIORITY_R6 = (
    # canaries — driver-green every prior round, one per north-star family
    "flagship_revenue_by_nation",
    "dedup_minhash_lsh",
    "ann_lsh_cosine",
    "tfidf_top_terms",
    # round-5 driver reds, fixed this round — re-attestation slots
    "tpch_q20_top_shippers",
    "misc_scalar_funcs",
    # TPC-H tail — first driver row
    "tpch_q4_order_priority",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "tpch_q14_promo_revenue",
    "tpch_q19_disjunctive_filter",
    "tpch_q15_top_supplier",
    "tpch_q18_large_volume_customer",
    "tpch_q22_idle_rich_customers",
    # relational/extras block — first driver row
    "histogram_2d",
    "weighted_median_per_group",
    "join_null_safe",
    "basket_size_hist",
    "lead_time_by_priority",
    "repeat_customer_share",
    "brand_supplier_hhi",
    "discount_band_elasticity",
    "setops_all_multiplicity",
    "union_allow_missing_columns",
    "abc_part_classification",
    "star_denormalize_wide",
    # time-series / event analytics block — first driver row
    "rolling_trend_slope",
    "running_distinct_event_types",
    "event_transition_matrix",
    "rolling_wau",
    "session_bounce_rate",
    "session_path_counts",
    "ttc_daily_median",
    "volume_spike_days",
    "max_concurrent_sessions",
    "cohort_revenue_ltv",
    "ohlc_bars_hourly",
    "open_lineitems_per_day",
    "dow_adjusted_spike_days",
    "retention_halflife_fit",
    "wau_overlap_jaccard",
    "spc_control_chart",
    "revenue_max_drawdown",
    "cusum_change_detection",
    "kaplan_meier_churn",
    "logrank_test_churn",
    "forecast_backtest_naive",
    "yoy_revenue_change",
    "early_activity_retention_corr",
    "dow_hour_heatmap",
)

# Round-7 window — staged in round 6, AMENDED at the r7 flip per the
# round-6 verdict: (a) one re-attest slot for the r6 driver red
# `tpch_q18_large_volume_customer` (oracle HUGEINT un-recast, fixed
# this round — driver-red is the hard signal, it must flip green);
# (b) bias toward the round-6 additions that have never had a driver
# row (winnowing/repeated-span/phrase-search, BPE/fertility/KN, the
# graph five, rendezvous/leakage, DP/bootstrap/caliper/isotonic/
# Neyman/k-center, token-budget/DSIR/Lloyd) plus the new
# `repeated_span_excision`; (c) the full multimodal family —
# `multimodal_decode` was round-3's breakage and has never had a
# driver row (verdict item 6). The originally staged scalar/markov/
# stats block keeps its first 11 names here; the displaced 33 move to
# the front of the r8 queue (array_set_ops .. co_supplier_pairs).
# Ledger going in: 163 distinct ops driver-green (r01+r02+r05+r06);
# this window adds 44 first-attestations -> cumulative ~207.
_PRIORITY_R7 = (
    # canaries — one per north-star family
    "flagship_revenue_by_nation",
    "dedup_minhash_lsh",
    "ann_lsh_cosine",
    "tfidf_top_terms",
    "sql_api_revenue",
    # round-6 driver red, fixed this round — re-attestation slot
    "tpch_q18_large_volume_customer",
    # round-6 additions — first driver row
    "winnowing_fingerprint_overlap",
    "repeated_span_stats",
    "repeated_span_excision",
    "phrase_search_positional",
    "bpe_train_merges",
    "bpe_merge_step",
    "tokenizer_fertility_stats",
    "kneser_ney_bigram_score",
    "neardup_adamic_adar",
    "adamic_adar_verified_pairs",
    "contamination_blast_radius",
    "neardup_label_consistency",
    "decontaminated_manifest",
    "split_neardup_leakage",
    "split_leakage_audit",
    "rendezvous_shard_plan",
    "dp_noisy_counts",
    "poisson_bootstrap_ci",
    "caliper_matching_att",
    "isotonic_calibration_pav",
    "neyman_allocation_plan",
    "kcenter_coreset_greedy",
    "token_budget_selection",
    "dsir_importance_weights",
    "kmeans_lloyd_step",
    "training_manifest",
    "neardup_blast_radius",
    # multimodal family — first driver row (verdict item 6)
    "multimodal_decode",
    "image_ahash_pairs",
    "scene_change_detection",
    "cross_clip_frame_overlap",
    "image_resize_stats",
    "frame_sample_chunks",
    # head of the originally staged block — first driver row
    "tpch_q17_small_qty_revenue",
    "revenue_share_of_region",
    "rls_masked_view",
    "ntile_quartiles",
    "rolling_range_7d",
    "vs_peers_daily",
    "pivot_multi_agg",
    "array_funcs",
    "higher_order_array_funcs",
    "struct_map_access",
    "json_funcs",
)

# Round-6 session additions (registry 401 -> 411), appended to the
# tail and queued for first attestation in r8+: kmeans_lloyd_step
# (oracle-checked Lloyd's iteration), dedup_incremental_minhash,
# token_budget_selection, dsir_importance_weights,
# filter_cascade_report, median_two_pass_exact,
# sql_udf_declared_function, sql_pipe_syntax,
# benchmark_embedding_contamination, bpe_train_merges. Continuation
# session 3 adds the graph module (neardup_adamic_adar,
# contamination_blast_radius, neardup_label_consistency), queued with
# the rest of the tail for first attestation in r8+.

# Round-8 window, staged and test-validated in round 7 (the r8 flip is
# the one-liner `_PRIORITY = _PRIORITY_R8`). 6 canaries + 44
# first-attestation slots: the 33 names displaced when the r7 window
# was amended, the 3 round-7 additions (semdedup / CCNet split /
# hashed quality scorer), and the next 8 oracle-checked never-attested
# ops in registry order (the dedup-diagnostics block). The 3 rows-only
# ops (approx_distinct/approx_quantiles/kmeans_segments) stay queued
# behind oracle-checked ops — their driver check is the weaker
# rows-only kind. ~180 never-attested remain for r9+.
_PRIORITY_R8 = (
    # canaries — one per north-star family
    "flagship_revenue_by_nation",
    "tpch_q1_pricing_summary",
    "dedup_minhash_lsh",
    "ann_lsh_cosine",
    "tfidf_top_terms",
    "sql_api_revenue",
    # round-7 additions — first driver row
    "semdedup_keep_list",
    "ccnet_perplexity_split",
    "hashed_linear_quality_score",
    # displaced from the staged r7 window — first driver row
    "array_set_ops",
    "try_arithmetic_funcs",
    "collated_group_count",
    "sliding_window_1h_30m",
    "daily_rollup",
    "sequence_islands",
    "funnel_conversion",
    "retention_cohorts",
    "concurrency_duration_profile",
    "session_window_dynamic_gap",
    "ts_decompose_daily",
    "twap_daily_value",
    "markov_3step_purchase",
    "markov_conditional_entropy",
    "theil_sen_daily_slope",
    "seasonal_strength_daily",
    "conformal_daily_interval",
    "attribution_models_compare",
    "asof_join_forward",
    "asof_join_nearest",
    "corr_matrix",
    "impute_mean",
    "confusion_matrix",
    "feature_minmax_scale",
    "groupwise_ols_slope",
    "chi_square_lang_source",
    "gini_per_nation",
    "spearman_per_nation",
    "doc_fingerprint",
    "dedup_cluster_size_hist",
    "dedup_keep_longest",
    "source_overlap_matrix",
    "co_supplier_pairs",
    # next never-attested oracle-checked ops, registry order
    "median_two_pass_exact",
    "minhash_banding_curve",
    "neardup_degree_hist",
    "dedup_prefix_filter_jaccard",
    "dedup_cluster_pointer_doubling",
    "dedup_cluster_best_quality",
    "cluster_lang_purity",
    "neardup_pair_explain",
)

# Round-9 window, staged in round 7 so the next TWO flips are both
# one-liners. 6 canaries + 44 first-attestation slots: the round-7
# `bpe_encode_corpus`, the three rows-only ops (approx sketches +
# kmeans_segments — their driver check is the weaker rows-only kind,
# deferred behind oracle-checked ops until now), the graph-metrics
# pair, and the embedding/similarity + text-pipeline blocks in
# registry order. ~139 never-attested remain for r10+.
_PRIORITY_R9 = (
    # canaries — one per north-star family
    "flagship_revenue_by_nation",
    "tpch_q1_pricing_summary",
    "dedup_minhash_lsh",
    "ann_lsh_cosine",
    "tfidf_top_terms",
    "sql_api_revenue",
    # round-7 addition — first driver row
    "bpe_encode_corpus",
    # rows-only trio — first (weak) driver row
    "approx_distinct",
    "approx_quantiles",
    "kmeans_segments",
    # graph metrics + dedup tail — first driver row
    "local_clustering_coefficient",
    "degree_assortativity",
    "dedup_normalized_text",
    "dedup_incremental_minhash",
    # embedding / similarity block — first driver row
    "ivf_cosine_topk",
    "embedding_dim_stats",
    "int8_quantize_embeddings",
    "density_core_points",
    "embedding_dbscan_clusters",
    "hard_negatives_topk",
    "centroid_outlier_scores",
    "label_centroid_similarity",
    "embedding_covariance",
    "pq_distortion_report",
    "ann_recall_report",
    "matryoshka_prefix_recall",
    "retrieval_metrics_at_k",
    "nearest_centroid_confusion",
    "pca_power_iteration_step",
    "benchmark_embedding_contamination",
    # text-pipeline block — first driver row
    "top_tokens",
    "bm25_scores",
    "token_cooccurrence_pmi",
    "source_quality_report",
    "dup_chunk_fraction",
    "unigram_logprob_score",
    "padding_waste_stats",
    "vocab_growth_curve",
    "rebalance_sample_plan",
    "lang_id_confusion",
    "inverted_index_build",
    "source_mixing_weights",
    "zipf_fit",
    "top_tokens_by_lang",
    "heavy_hitters_tokens",
    "global_shuffle_row_number",
    # round-8 additions — first driver row (amended into the staged r9
    # window at round-8 time; the four text-pipeline entries they
    # displaced moved to the r10 staging below)
    "gopher_quality_flags",
    "epoch_allocation_plan",
    "ngram_novelty_score",
    "quality_classifier_gd_step",
)

# Round-10 window, staged in round 8, amended in round 9 per the r8
# verdict: canaries trimmed 6 -> 3 (flagship + dedup + SQL; the other
# three families have 2 consecutive green rows and 187 ops still lack
# any driver row), freeing slots for the round-8 stragglers
# (semdedup_threshold_sweep / context_length_waste_curve /
# quality_classifier_gd_convergence), the round-9 additions
# (quality_classifier_trained_scores + the four LIVE streaming ops),
# with the tail SQL-surface block displaced to the r11 staging below.
_PRIORITY_R10 = (
    # canaries — flagship + dedup + SQL only while the backlog clears
    "flagship_revenue_by_nation",
    "dedup_minhash_lsh",
    "sql_api_revenue",
    # displaced from the amended r9 window — first driver row
    "token_entropy_per_doc",
    "chunk_sliding_windows",
    "psi_source_drift",
    "bigram_logprob_score",
    # next never-attested oracle-checked ops, registry order
    "calibration_curve_langid",
    "count_min_estimates",
    "mutual_info_lang_source",
    "token_coverage_curve",
    "sentiment_lexicon_score",
    "chunk_containment_pairs",
    "gains_chart_langid",
    "distinctive_tokens_per_source",
    "pack_windows_concat",
    "lang_sampling_temperature",
    "token_frequency_spectrum",
    "js_divergence_sources",
    "intra_doc_halves_divergence",
    "rrf_fusion_topk",
    "mmr_diversified_topk",
    "ece_langid",
    "hits_containment_step",
    "rbo_rankings",
    "flesch_proxy_readability",
    "filter_cascade_report",
    "arrow_doc_meta",
    "udtf_ngrams_polymorphic",
    "arrow_scalar_udf_margin",
    "apply_in_arrow_center",
    "grouping_sets",
    "salted_group_agg",
    "join_salted_skew",
    "recursive_cte_hierarchy",
    "sql_scripting_above_avg",
    "sql_parameterized_query",
    # re-attest: rows-only 'no_oracle' row from r02 predates its oracle
    # (tools/attestation_status.py flags it; ivf/approx/kmeans twins
    # already hold r9 slots)
    "ema_per_user",
    # round-8 additions without a driver row yet
    "curation_funnel_report",
    "minhash_jaccard_calibration",
    "semdedup_threshold_sweep",
    "context_length_waste_curve",
    "quality_classifier_gd_convergence",
    # round-9 additions — the trained-classifier consumer and the LIVE
    # Structured-Streaming family (real readStream pipelines drained to
    # a memory sink, oracle-checked against the batch twins' SQL)
    "quality_classifier_trained_scores",
    "stream_tumbling_counts",
    "stream_sliding_counts",
    "stream_session_windows",
    "stream_gopher_gate",
    "stream_neardup_screen",
    "quality_filter_agreement",
)

# Round-11 window, staged in round 9 so the next TWO flips stay
# one-liners. 3 canaries + 47 first-attestation slots: the SQL-surface
# block displaced from the amended r10 window, then the next
# never-attested oracle-checked ops in registry order (the
# timeseries-maintenance / table-ops / stats-tests blocks).
# ~60 never-attested remain for r12+.
_PRIORITY_R11 = (
    # canaries — flagship + dedup + SQL only while the backlog clears
    "flagship_revenue_by_nation",
    "dedup_minhash_lsh",
    "sql_api_revenue",
    # displaced from the amended r10 window — first driver row
    "sql_lateral_topk",
    "sql_pipe_syntax_agg",
    "sql_execute_immediate",
    "sql_group_by_all",
    "sql_identifier_clause",
    "keyset_pagination_page",
    "sql_unpivot_syntax",
    # displaced from the r10 staging back in round 8 — first driver row
    "topk_with_ties",
    "sql_udf_declared_function",
    "sql_offset_pagination",
    "sql_pipe_syntax",
    # next never-attested oracle-checked ops, registry order
    "diff_pct_change",
    "forward_fill",
    "time_gapfill",
    "interpolate_linear",
    "stats_extended",
    "datetime_convert",
    "describe_stats",
    "anomaly_mad",
    "merge_upsert",
    "merge_partial_aggs",
    "scd2_history",
    "dq_audit",
    "pareto_frontier_suppliers",
    "snapshot_diff",
    "zorder_key",
    "array_agg_topk",
    "compaction_plan",
    "interevent_time_hist",
    "benford_first_digit",
    "wow_revenue_change",
    "hierarchy_rollup",
    "sketch_merge_running_distinct",
    "cascade_delete_audit",
    "dow_seasonality",
    "zscore_outlier_exact",
    "late_arrival_fraction",
    "incremental_rollup_maintenance",
    "join_cardinality_estimate",
    "corpus_table_profile",
    "activity_entropy",
    "decay_weighted_revenue",
    "ab_test_two_proportion",
    "winsorized_mean_by_type",
    "rfm_segments",
    "k_anonymity_audit",
    "scd2_point_in_time_join",
)

# Round-12 window, staged in round 10 so the next TWO flips stay
# one-liners. 3 canaries + the next 47 never-attested oracle-checked
# ops in attestation-ledger order (the stats-tests / classic-ml /
# privacy blocks). 15 never-attested stragglers + the rows-only trio
# re-attests + this round's additions queue for r13.
_PRIORITY_R12 = (
    # canaries — flagship + dedup + SQL only while the backlog clears
    "flagship_revenue_by_nation",
    "dedup_minhash_lsh",
    "sql_api_revenue",
    # next never-attested oracle-checked ops, ledger order
    "cross_table_daily_correlation",
    "ar_aging_buckets",
    "segment_migration_matrix",
    "cuped_adjusted_ab",
    "did_estimate",
    "theil_decomposition",
    "wilson_intervals_conversion",
    "fano_burstiness_per_user",
    "l_diversity_audit",
    "cohort_payback_month",
    "loo_nation_mean_influence",
    "snapshot_diff_columns",
    "revenue_concentration_topn",
    "price_endings_hist",
    "delta_join_view_maintenance",
    "observed_scan_metrics",
    "train_val_test_split",
    "record_linkage_parts",
    "weighted_sample_topk",
    "basket_lift_brand_pairs",
    "price_index_laspeyres",
    "ks_test_priority_totals",
    "mannwhitney_priority_totals",
    "anova_f_priority_totals",
    "brown_forsythe_priority",
    "acf_daily_revenue",
    "one_hot_segment_matrix",
    "target_encode_brand",
    "feature_hash_buckets",
    "kfold_stratified_assign",
    "welch_t_priority_totals",
    "robust_scale_acctbal",
    "pairwise_proportion_tests",
    "cochran_armitage_trend",
    "kendall_tau_nation_metrics",
    "bh_fdr_pairwise",
    "sprt_boundary_crossing",
    "mde_power_analysis",
    "wasserstein_1d_priority",
    "auc_langid_score",
    "ols_price_on_qty_discount",
    "naive_bayes_langid",
    "decision_stump_train",
    "item_item_cf_topk",
    "basket_triple_support",
    "business_days_lead_time",
    "cohens_kappa_langid",
)

# Round-13 window, staged in round 10: after R11+R12 run, every
# remaining never-attested op (15 stragglers + the 5 round-10
# additions) fits in one window, the rows-only sketch trio gets its
# planned one-shot re-attest (last), and the balance re-attests the
# 24 OLDEST driver rows (r1 greens untouched since round 1).
_PRIORITY_R13 = (
    # canaries — flagship + dedup + SQL only while the backlog clears
    "flagship_revenue_by_nation",
    "dedup_minhash_lsh",
    "sql_api_revenue",
    # round-10 additions — first driver row
    "t_closeness_audit",
    "token_gini_concentration",
    "domain_excess_loss_weights",
    "source_gram_jaccard_matrix",
    "stream_trained_classifier",
    # the last never-attested stragglers, ledger order
    "feature_information_gain",
    "ipf_raking_step",
    "binary_hamming_topk",
    "qi_generalization_ladder",
    "hypothetical_rank_of_value",
    "ucb1_variant_scores",
    "kfold_slope_stability",
    "woe_iv_encoding",
    "stratified_ate_discount",
    "suppressed_release_histogram",
    "ess_after_raking",
    "qte_discount_quantiles",
    "propensity_overlap_report",
    "corpus_health_scorecard",
    "nb_macro_f1",
    # rows-only sketch trio: the planned one-shot re-attest (their
    # r2-era rows predate the rows-only-by-design classification)
    "approx_distinct",
    "approx_quantiles",
    "kmeans_segments",
    # oldest driver rows (r1) — freshness re-attest to close the round
    "agg_scalar_global",
    "argmax_top1",
    "cast_rename_drop",
    "cube_flag_status",
    "date_funcs",
    "distinct_counts",
    "distinct_projection",
    "except_keys",
    "filter_between_isnull",
    # round-11 additions (displace five r1 freshness re-attests —
    # intersect_keys/join_anti/join_cross/join_full_outer/histogram_bins
    # stay covered by pytest and the local sweep, and move to the R14
    # freshness window; first driver rows take precedence over
    # re-attests)
    "triplet_export_manifest",
    "audio_vad_chunks",
    "doremi_sampling_manifest",
    "ann_index_manifest",
    "curation_attributes_manifest",
    # round-10 additions (landed after the window was first staged)
    "quantile_normalize_lengths",
    "holt_linear_daily_revenue",
    "salting_plan",
    "zonemap_prune_stats",
    "cross_shard_dup_rate",
    "contrastive_triplet_mining",
    "nelson_aalen_hazard",
    "audio_vad_segments",
    # round-12 additions (displace two more r1 freshness re-attests —
    # filter_compound_predicates/filtered_count move to the R16
    # freshness window; first driver rows take precedence over
    # re-attests, same rule as the r11 wave)
    "ann_manifest_query_topk",
    "audio_chunk_export_manifest",
)

# Round-14 window, staged in round 11, AMENDED in round 14 per the
# r13 verdict. After R11-R13 retire the first-attestation backlog,
# every registry op has a driver row, and the windows switch to pure
# FRESHNESS ROTATION: 3 canaries + the 47 ops whose latest driver row
# (actual or scheduled through r13) is OLDEST — exactly the r1/r2-era
# rows untouched since rounds 1-2. Ordering is (effective latest
# round, registry order); no disjointness rule applies because
# re-attestation is the point.
#
# STANDING RULE (adopted round 14, r13 verdict item 1): any op whose
# `fn` body changes in a round gets a slot in the NEXT unflipped
# window, exactly like a brand-new op — local sweeps are not driver
# rows. First application: ivf_cosine_topk and pq_distortion_report
# were re-plumbed onto the memoized _ann_index_frames in round 13
# (their latest driver rows, r9/r9, predate the change), so they take
# the tail slots here; regex_funcs and math_funcs — the youngest r1
# rows by registry order — yield and lead R15's non-canary block
# instead. (pq_adc_topk, the third re-plumbed sibling, already holds
# an R15 slot.)
_PRIORITY_R14 = (
    # canaries — flagship + dedup + SQL, as every round
    "flagship_revenue_by_nation",
    "dedup_minhash_lsh",
    "sql_api_revenue",
    # round-1 rows (19) — includes the five re-attests displaced from
    # R13 by the round-11 consumer additions; regex_funcs/math_funcs
    # yielded to the touched-op re-attests and lead R15
    "scan_project_derive",
    "null_handling_fill",
    "median_quantiles",
    "stats_stddev_var",
    "value_counts",
    "histogram_bins",
    "rollup_region_nation",
    "join_left_outer",
    "join_right_outer",
    "join_full_outer",
    "join_anti",
    "join_cross",
    "union_concat",
    "intersect_keys",
    "window_running_agg",
    "rolling_median",
    "percent_rank_cume_dist",
    "unpivot_metrics",
    "string_funcs",
    # round-2 rows (22) — the next-oldest block, registry order
    # (embedding_norms, the youngest r2 row by registry order, yielded
    # its slot to the displaced histogram_bins; dedup_ngram_jaccard /
    # simhash_signature / simhash_near_dup / pagerank_near_dup yielded
    # to the round-14 consumer additions — all five rotate in R15)
    "conditional_case_when",
    "group_agg_multi",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "join_inner_broadcast",
    "join_semi",
    "join_theta_inequality",
    "topk_orders",
    "window_topk_per_group",
    "window_lag_lead",
    "rolling_mean_std",
    "sessionize_gap",
    "percent_rank_approx",
    "pivot_status_qty",
    "explode_tokens",
    "tumbling_window_hourly",
    "session_window_10m",
    "asof_join_backward",
    "interval_join_bucketed",
    "roc_points_bucketed",
    "dedup_exact_text",
    "dedup_keyed_first",
    # touched-op re-attests (round-13 re-plumb onto _ann_index_frames;
    # see the standing rule in the window comment above)
    "ivf_cosine_topk",
    "pq_distortion_report",
    # round-14 consumer additions (first driver rows take precedence
    # over re-attests, the r11/r12 rule: the four youngest r2 rows by
    # registry order — dedup_ngram_jaccard / simhash_signature /
    # simhash_near_dup / pagerank_near_dup — yield and lead R15's r2
    # block instead)
    "ann_cell_balance_stats",
    "qgd_weights_manifest",
    "int8_vector_export_manifest",
    "ivf_probe_recall_curve",
)

# Round-15 window, staged in round 11, AMENDED in round 14: the
# freshness rotation continues with the next-oldest 47 driver rows —
# the two r1-era rows displaced from R14 by the touched-op re-attests
# (oldest driver rows, so they lead), the 13 remaining r2-era rows
# (including embedding_norms, displaced from R14 by histogram_bins),
# then the oldest r5-era block, registry order within each age group,
# behind the usual 3 canaries. tpch_q2_min_cost_supplier and
# tpch_q7_volume_shipping — the youngest r5 rows by registry order —
# yielded their tail slots to the displaced r1 pair and lead R19's
# non-canary block instead.
_PRIORITY_R15 = (
    # canaries — flagship + dedup + SQL, as every round
    "flagship_revenue_by_nation",
    "dedup_minhash_lsh",
    "sql_api_revenue",
    # round-1 rows (2) — displaced from R14 by the touched-op rule
    "regex_funcs",
    "math_funcs",
    # round-2 rows (17) — the four rows displaced from R14 by the
    # round-14 consumer additions lead (registry order), then the rest
    # of the r2 era
    "dedup_ngram_jaccard",
    "simhash_signature",
    "simhash_near_dup",
    "pagerank_near_dup",
    "embedding_norms",
    "cosine_topk_brute",
    "dedup_embedding_cosine",
    "lang_id_heuristic",
    "quality_score",
    "token_counts",
    "training_data_pipeline",
    "multimodal_meta",
    "pandas_udf_sigmoid",
    "apply_in_pandas_zscore",
    "fuzzy_levenshtein_pairs",
    "hash_sample",
    "stratified_sample",
    # round-5 rows (27) — the oldest r5 block, registry order
    # (tpch_q2/q7, the youngest by registry order, yielded to the
    # displaced r1 pair and lead R19; linear_counting_distinct /
    # string_agg_per_group / group_topk_percent /
    # weighted_bernoulli_sample yielded to the displaced r2 rows and
    # lead R20; bloom_filter_semi_join — the youngest remaining r5 row
    # by registry order — yielded to the round-15 consumer addition
    # and leads R16's r5 block)
    "first_last_nth_value",
    "string_pad_funcs",
    "bit_aggregates",
    "variant_json_funcs",
    "view_purchase_attribution",
    "asof_join_tolerance",
    "roc_points",
    "profile_columns",
    "dedup_cluster_canonical",
    "near_dup_triangle_stats",
    "label_centroids",
    "pq_adc_topk",
    "pii_redact",
    "remove_boilerplate_tokens",
    "benchmark_contamination",
    "repetition_2gram_ratio",
    "audio_frame_features",
    "row_udf_label",
    "udtf_bigrams",
    "grouped_agg_sum_squares",
    "boxplot_stats",
    "mode_per_group",
    "rolling_min_max",
    "weighted_avg",
    "hash_funcs",
    "key_skew_profile",
    "python_datasource_scan",
    # round-15 consumer addition (first driver row takes precedence
    # over re-attests, the r11/r12/r14 rule): the int8 rerank-store
    # fidelity audit — the quality-side consumer of
    # int8_vector_export_manifest
    "int8_rerank_fidelity",
)

# Round-16 window, staged in round 12, AMENDED in round 15 (the
# cascade from the round-15 consumer addition): the freshness
# rotation continues with the next-oldest 47 driver rows once R12-R15
# have run — the two r1 re-attests the round-12 consumer additions
# displaced from R13, the 8 remaining r5-era rows (the R15-displaced
# bloom_filter_semi_join leads, then the TPC-H block that didn't fit
# in R15), then the oldest r6-era block, registry order within each
# age group, behind the usual 3 canaries. Computed by (effective
# latest round, registry order) where "effective" counts staged
# R12-R15 membership as a future row (kaplan_meier_churn /
# logrank_test_churn yielded the tail slots to the displaced r1 rows
# and rotate in R17; cusum_change_detection — the youngest r6 row by
# registry order — yielded to the displaced bloom_filter_semi_join
# and leads R17's r6 block).
_PRIORITY_R16 = (
    # canaries — flagship + dedup + SQL, as every round
    "flagship_revenue_by_nation",
    "dedup_minhash_lsh",
    "sql_api_revenue",
    # round-1 rows (2) — the re-attests displaced from R13 by the
    # round-12 consumer additions (oldest driver rows, so they lead)
    "filter_compound_predicates",
    "filtered_count",
    # round-5 rows (8) — the R15-displaced row leads, then the rest
    # of the r5 era
    "bloom_filter_semi_join",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q11_important_parts",
    "tpch_q12_priority_shipping",
    "tpch_q13_customer_distribution",
    "tpch_q16_supplier_part_stats",
    "tpch_q21_waiting_suppliers",
    # round-6 rows (36) — the oldest r6 block, registry order
    # (cusum_change_detection yielded in the r15 cascade,
    # revenue_max_drawdown to the round-16 consumer addition — see the
    # tail comment)
    "tpch_q4_order_priority",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "tpch_q14_promo_revenue",
    "tpch_q19_disjunctive_filter",
    "tpch_q15_top_supplier",
    "tpch_q22_idle_rich_customers",
    "histogram_2d",
    "weighted_median_per_group",
    "join_null_safe",
    "basket_size_hist",
    "lead_time_by_priority",
    "repeat_customer_share",
    "brand_supplier_hhi",
    "discount_band_elasticity",
    "setops_all_multiplicity",
    "union_allow_missing_columns",
    "abc_part_classification",
    "star_denormalize_wide",
    "rolling_trend_slope",
    "running_distinct_event_types",
    "misc_scalar_funcs",
    "event_transition_matrix",
    "rolling_wau",
    "session_bounce_rate",
    "session_path_counts",
    "ttc_daily_median",
    "volume_spike_days",
    "max_concurrent_sessions",
    "cohort_revenue_ltv",
    "ohlc_bars_hourly",
    "open_lineitems_per_day",
    "dow_adjusted_spike_days",
    "retention_halflife_fit",
    "wau_overlap_jaccard",
    "spc_control_chart",
    # round-16 consumer addition (first driver row takes precedence
    # over re-attests, the r11/r12/r14/r15 rule): the audio export's
    # loader-side integrity + seek-profile audit — the audit consumer
    # of audio_chunk_export_manifest
    "audio_manifest_integrity",
    # cusum_change_detection, the youngest r6 row by registry order,
    # yielded its slot to the R15-displaced bloom_filter_semi_join and
    # leads R17's r6 block; revenue_max_drawdown, the next-youngest,
    # yielded to the round-16 consumer addition and joins R17's
    # displaced leads
)

# Round-17 window, staged in round 13, AMENDED in rounds 15 and 16
# (the cascades from each round's consumer addition) and AMENDED
# AGAIN at the start of round 17: the round-16 optimization rewrote
# 22 operators but only 2 of them (audio_manifest_integrity and the
# dedup_minhash_lsh canary) sat in the R16 window, so 20 rewritten
# ops carried no driver-side oracle attestation of their NEW plans.
# The r16 judge's #1 next-round item (VERDICT.md) is to attest
# exactly those ops first — the same touched-op-amendment precedent
# as R14. So: the 3 canaries, then the 20 r16-touched ops (rewrite
# order: the window-census text ops, the DoReMi pair, the QGD
# trainer's consumers, item-item CF, the memoized similarity/dedup
# pairs, PCA, the PQ serve path, and the audio chain), then the
# first 27 rows of the previously staged freshness tail. The 17
# freshness rows that no longer fit: six fill the R19/R20 slots
# vacated by touched ops pulled forward (displacement order), the
# remaining 11 (isotonic_calibration_pav .. neyman_allocation_plan)
# are past the round-20 horizon and keep their r7-era driver rows as
# final attestation — the same outcome as stream_session_windows /
# stream_tumbling_counts in the r15/r16 cascades.
_PRIORITY_R17 = (
    # canaries — flagship + dedup + SQL, as every round
    "flagship_revenue_by_nation",
    "dedup_minhash_lsh",
    "sql_api_revenue",
    # the 20 round-16-touched ops (the optimization rewrites whose
    # new plans the driver's oracle has not yet attested). Three of
    # these (winnowing + the two span ops) were already staged here
    # by the freshness rotation; the rest are pulled forward from
    # R19/R20/unstaged, and qgd_weights_manifest / pq_adc_topk /
    # audio_frame_features re-attest early because their R14/R15
    # rows predate the r16 rewrite of their plans.
    "repeated_span_stats",
    "repeated_span_excision",
    "ngram_novelty_score",
    "tfidf_top_terms",
    "winnowing_fingerprint_overlap",
    "domain_excess_loss_weights",
    "doremi_sampling_manifest",
    "quality_classifier_trained_scores",
    "qgd_weights_manifest",
    "item_item_cf_topk",
    "semdedup_keep_list",
    "semdedup_threshold_sweep",
    "contrastive_triplet_mining",
    "triplet_export_manifest",
    "pca_power_iteration_step",
    "pq_adc_topk",
    "audio_frame_features",
    "audio_vad_segments",
    "audio_vad_chunks",
    "audio_chunk_export_manifest",
    # freshness tail (27) — the first 27 rows of the previously
    # staged rotation: round-6 rows (9, the R16-displaced rows lead
    # in displacement order), then the oldest r7 block, registry
    # order
    "kaplan_meier_churn",
    "logrank_test_churn",
    "cusum_change_detection",
    "revenue_max_drawdown",
    "forecast_backtest_naive",
    "yoy_revenue_change",
    "early_activity_retention_corr",
    "dow_hour_heatmap",
    "tpch_q20_top_shippers",
    "tpch_q18_large_volume_customer",
    "tpch_q17_small_qty_revenue",
    "revenue_share_of_region",
    "rls_masked_view",
    "ntile_quartiles",
    "rolling_range_7d",
    "vs_peers_daily",
    "pivot_multi_agg",
    "array_funcs",
    "higher_order_array_funcs",
    "struct_map_access",
    "json_funcs",
    "neardup_blast_radius",
    "split_neardup_leakage",
    "kmeans_lloyd_step",
    "kcenter_coreset_greedy",
    "bpe_merge_step",
    "training_manifest",
    # token_budget_selection / dsir_importance_weights /
    # bpe_train_merges / phrase_search_positional fill the R19 slots
    # vacated by the touched-op pull-forward; kneser_ney_bigram_score
    # / tokenizer_fertility_stats fill R20's. The remaining 11
    # displaced rows are past the round-20 horizon (r7 rows stand as
    # final attestation).
)

# Round-18 window, staged in round 13 (one round ahead, so the R14
# round only flips _PRIORITY), AMENDED in rounds 15 and 16 (the
# cascades from each round's consumer addition): the freshness
# rotation continues with the next-oldest 47 driver rows once R13-R17
# have run — the 7 remaining r7-era rows (the R17-displaced
# caliper_matching_att and dp_noisy_counts lead, displacement order),
# then the oldest r8-era block (semdedup_keep_list, the youngest r8
# row by registry order, yielded to the displaced caliper and leads
# R19's r8 block; neardup_pair_explain, the next-youngest, yielded to
# the displaced dp_noisy_counts and follows it there), registry order
# within each age group, behind the usual 3 canaries. Computed by
# (effective latest round, registry order) where "effective" counts
# staged R13-R17 membership as a future row.
_PRIORITY_R18 = (
    # canaries — flagship + dedup + SQL, as every round
    "flagship_revenue_by_nation",
    "dedup_minhash_lsh",
    "sql_api_revenue",
    # round-7 rows (7) — the R17-displaced rows lead (displacement
    # order), then the rest of the r7 era, registry order
    "caliper_matching_att",
    "dp_noisy_counts",
    "neardup_adamic_adar",
    "contamination_blast_radius",
    "neardup_label_consistency",
    "adamic_adar_verified_pairs",
    "decontaminated_manifest",
    # round-8 rows (40) — the oldest r8 block, registry order
    # (semdedup_keep_list yielded in the r15 cascade,
    # neardup_pair_explain in the r16 cascade — see the tail comment)
    "median_two_pass_exact",
    "array_set_ops",
    "try_arithmetic_funcs",
    "collated_group_count",
    "sliding_window_1h_30m",
    "daily_rollup",
    "sequence_islands",
    "funnel_conversion",
    "retention_cohorts",
    "concurrency_duration_profile",
    "session_window_dynamic_gap",
    "ts_decompose_daily",
    "twap_daily_value",
    "markov_3step_purchase",
    "markov_conditional_entropy",
    "theil_sen_daily_slope",
    "seasonal_strength_daily",
    "conformal_daily_interval",
    "attribution_models_compare",
    "asof_join_forward",
    "asof_join_nearest",
    "corr_matrix",
    "impute_mean",
    "confusion_matrix",
    "feature_minmax_scale",
    "groupwise_ols_slope",
    "chi_square_lang_source",
    "gini_per_nation",
    "spearman_per_nation",
    "doc_fingerprint",
    "dedup_cluster_size_hist",
    "dedup_keep_longest",
    "source_overlap_matrix",
    "co_supplier_pairs",
    "minhash_banding_curve",
    "neardup_degree_hist",
    "dedup_prefix_filter_jaccard",
    "dedup_cluster_pointer_doubling",
    "dedup_cluster_best_quality",
    "cluster_lang_purity",
    # semdedup_keep_list, the youngest r8 row by registry order,
    # yielded its slot to the R17-displaced caliper_matching_att and
    # leads R19's r8 block; neardup_pair_explain, the next-youngest,
    # yielded to the R17-displaced dp_noisy_counts and follows
    # semdedup in R19's r8 block
)

# Round-19 window, staged in round 14 (one round ahead of cadence),
# AMENDED in rounds 15 and 16 (the cascades from each round's
# consumer addition): the freshness rotation continues with the
# next-oldest 47 driver rows once R14-R18 have run — the two r5-era
# rows displaced from R15's tail by the R14 amendment (tpch_q2/q7,
# oldest driver rows, so they lead), the r8 tail (the R18-displaced
# semdedup_keep_list and neardup_pair_explain in displacement order,
# then ccnet_perplexity_split / hashed_linear_quality_score), then
# the oldest r9 block, registry order within each age group, behind
# the usual 3 canaries. Computed by (effective latest round, registry
# order) where "effective" counts amended/staged R14-R18 membership
# as a future row — which is why ivf_cosine_topk and
# pq_distortion_report (natural r9 rows) are absent: their touched-op
# re-attests land in R14. minhash_jaccard_calibration, the lone r10
# row here, yielded to the displaced semdedup_keep_list and leads
# R20's r10 block; quality_classifier_gd_step, the youngest r9 row by
# registry order, yielded to the displaced neardup_pair_explain and
# precedes minhash in R20 (older era first).
_PRIORITY_R19 = (
    # canaries — flagship + dedup + SQL, as every round
    "flagship_revenue_by_nation",
    "dedup_minhash_lsh",
    "sql_api_revenue",
    # round-5 rows (2) — displaced from R15's tail by the R14
    # amendment (oldest driver rows, so they lead)
    "tpch_q2_min_cost_supplier",
    "tpch_q7_volume_shipping",
    # round-8 rows (4) — the R18-displaced rows lead (displacement
    # order), then the rest of the r8 era. semdedup_keep_list was
    # pulled forward into R17 by the touched-op amendment; the
    # R17-displaced token_budget_selection takes its slot.
    "token_budget_selection",
    "neardup_pair_explain",
    "ccnet_perplexity_split",
    "hashed_linear_quality_score",
    # round-9 rows (41) — the oldest r9 block, registry order
    # (quality_classifier_gd_step yielded, see the tail comment)
    "tpch_q1_pricing_summary",
    "local_clustering_coefficient",
    "degree_assortativity",
    "dedup_normalized_text",
    "dedup_incremental_minhash",
    "ann_lsh_cosine",
    "embedding_dim_stats",
    "int8_quantize_embeddings",
    "density_core_points",
    "embedding_dbscan_clusters",
    "hard_negatives_topk",
    "centroid_outlier_scores",
    "label_centroid_similarity",
    "embedding_covariance",
    "ann_recall_report",
    "matryoshka_prefix_recall",
    "retrieval_metrics_at_k",
    "nearest_centroid_confusion",
    # pca_power_iteration_step / tfidf_top_terms pulled forward into
    # R17 by the touched-op amendment; R17-displaced rows take their
    # slots (displacement order)
    "dsir_importance_weights",
    "benchmark_embedding_contamination",
    "bpe_train_merges",
    "top_tokens",
    "bm25_scores",
    "token_cooccurrence_pmi",
    "source_quality_report",
    "dup_chunk_fraction",
    "unigram_logprob_score",
    "padding_waste_stats",
    "vocab_growth_curve",
    "rebalance_sample_plan",
    "lang_id_confusion",
    "inverted_index_build",
    "source_mixing_weights",
    "zipf_fit",
    "top_tokens_by_lang",
    "heavy_hitters_tokens",
    "global_shuffle_row_number",
    "bpe_encode_corpus",
    "gopher_quality_flags",
    "epoch_allocation_plan",
    # ngram_novelty_score pulled forward into R17 by the touched-op
    # amendment; the R17-displaced phrase_search_positional takes
    # its slot
    "phrase_search_positional",
    # minhash_jaccard_calibration, the lone r10 row staged here in
    # r14, yielded its slot to the R18-displaced semdedup_keep_list
    # and leads R20's r10 block; quality_classifier_gd_step, the
    # youngest r9 row by registry order, yielded to the R18-displaced
    # neardup_pair_explain and precedes minhash in R20
)

# Round-20 window, staged in round 14 (two ahead of cadence — round
# 20 is the final round, so the whole rotation plan is now written
# down), AMENDED in rounds 15 and 16 (the cascades from each round's
# consumer addition): the freshness rotation continues with the
# next-oldest 47 driver rows once R14-R19 have run — the four r5-era
# rows displaced from R15's tail by the round-14 consumer additions
# (oldest driver rows, so they lead), the R19-displaced
# quality_classifier_gd_step (r9 era, so it precedes the r10 block),
# then the r10 block (the R19-displaced minhash_jaccard_calibration
# leads), registry order within each age group, behind the usual 3
# canaries. Computed by (effective latest round, registry order)
# where "effective" counts amended/staged R14-R19 membership as a
# future row.
_PRIORITY_R20 = (
    # canaries — flagship + dedup + SQL, as every round
    "flagship_revenue_by_nation",
    "dedup_minhash_lsh",
    "sql_api_revenue",
    # round-5 rows (4) — displaced from R15's tail by the round-14
    # consumer additions (oldest driver rows, so they lead)
    "linear_counting_distinct",
    "string_agg_per_group",
    "group_topk_percent",
    "weighted_bernoulli_sample",
    # round-9 row (1) — displaced from R19 by the r16 cascade (older
    # era than the r10 block, so it precedes it)
    "quality_classifier_gd_step",
    # round-10 rows (42) — the R19-displaced row leads, then the
    # oldest r10 block, registry order (stream_tumbling_counts
    # yielded, see the tail comment)
    "minhash_jaccard_calibration",
    # semdedup_threshold_sweep pulled forward into R17 by the
    # touched-op amendment; the R17-displaced kneser_ney_bigram_score
    # takes its slot
    "kneser_ney_bigram_score",
    "token_entropy_per_doc",
    "chunk_sliding_windows",
    "psi_source_drift",
    "bigram_logprob_score",
    "calibration_curve_langid",
    "count_min_estimates",
    "mutual_info_lang_source",
    "token_coverage_curve",
    "sentiment_lexicon_score",
    "chunk_containment_pairs",
    "gains_chart_langid",
    "distinctive_tokens_per_source",
    "pack_windows_concat",
    "lang_sampling_temperature",
    "token_frequency_spectrum",
    "js_divergence_sources",
    "intra_doc_halves_divergence",
    "rrf_fusion_topk",
    "mmr_diversified_topk",
    "ece_langid",
    "hits_containment_step",
    "rbo_rankings",
    "flesch_proxy_readability",
    "filter_cascade_report",
    "curation_funnel_report",
    "context_length_waste_curve",
    "ema_per_user",
    "arrow_doc_meta",
    "udtf_ngrams_polymorphic",
    "arrow_scalar_udf_margin",
    "apply_in_arrow_center",
    "grouping_sets",
    "salted_group_agg",
    "join_salted_skew",
    "recursive_cte_hierarchy",
    "sql_scripting_above_avg",
    "sql_parameterized_query",
    "quality_classifier_gd_convergence",
    # quality_classifier_trained_scores pulled forward into R17 by
    # the touched-op amendment; the R17-displaced
    # tokenizer_fertility_stats takes its slot
    "tokenizer_fertility_stats",
    "quality_filter_agreement",
    # stream_gopher_gate, the youngest r10 row by registry order,
    # yielded its slot to linear_counting_distinct and falls past the
    # rotation horizon (round 20 is the final window) — its r10 driver
    # row remains its final attestation; stream_session_windows, the
    # next-youngest, yielded to the R19-displaced
    # minhash_jaccard_calibration in the round-15 cascade and likewise
    # keeps its r10 row as final attestation; stream_tumbling_counts,
    # the next-youngest after that, yielded to the R19-displaced
    # quality_classifier_gd_step in the round-16 cascade — same
    # past-the-horizon outcome, its r10 driver row stands
)

# Round 17: the staged flip, executed — with the touched-op
# amendment above (the r16 judge's #1 item: driver-attest the 20
# operators whose plans the round-16 optimization rewrote but whose
# oracle rows predate the rewrite). CORRECTNESS_r16 landed 50/50
# all-green. The registry is fully driver-attested —
# `tools/attestation_status.py --endgame` is the standing gate — and
# rounds 18-20 remain staged freshness rotations (one-line flips).
_PRIORITY = _PRIORITY_R17


def all_ops() -> dict[str, Op]:
    import importlib

    merged: dict[str, Op] = {}
    for mod_name in _MODULES:
        mod = importlib.import_module(f"my_polars_ai_spark.operators.{mod_name}")
        for name, op_ in mod.OPS.items():
            if name in merged:
                raise ValueError(f"duplicate op {name!r} from {mod_name}")
            merged[name] = op_
    if len(set(_PRIORITY)) != len(_PRIORITY):
        raise ValueError("duplicate name in _PRIORITY")
    # A typo'd or renamed op must fail loudly: silently skipping it would
    # shift the driver's 50-entry CORRECTNESS prefix window.
    missing = [n for n in _PRIORITY if n not in merged]
    if missing:
        raise ValueError(f"_PRIORITY names not in registry: {missing}")
    ordered: dict[str, Op] = {n: merged[n] for n in _PRIORITY}
    ordered.update((n, op_) for n, op_ in merged.items() if n not in ordered)
    return ordered
