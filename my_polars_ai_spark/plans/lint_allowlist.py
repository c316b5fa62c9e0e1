"""Documented allowlist for advisory plan-lint warnings.

``lint_plan`` (plans/guardrails.py) flags plan shapes that are
scale-killers WHEN the flagged input is data-sized. Many registry ops
trip a flag over an input that is bounded BY CONSTRUCTION — a 1-row
global aggregate broadcast back into the table, a window over a
distinct-score histogram, a calendar-grain series. Those are the right
100-TB shapes; the warning is the linter being unable to see
cardinality. This module is the attribution ledger the round-6 verdict
asked for: every (op, warning-kind) pair that is ACCEPTED must appear
here with the reason the flagged input is bounded. The gate is the
per-op case of ``tests/test_registry_sweep.py``: it lints each op's plan
from a cold cache, before any action, and requires the set of warning
kinds to equal the op's entries here — a warning with no entry fails
(a new op cannot hide a real scale hazard in the advisory noise), and
so does an entry whose warning no longer fires (a dead justification
cannot hide a future regression of the same kind).

Kinds: ``bnlj`` (BroadcastNestedLoopJoin), ``global-window`` (window
with no PARTITION BY), ``cartesian`` (CartesianProduct), ``multi-smj``
(>= 3 sort-merge joins), ``python-udf`` (row-at-a-time Python UDF).
"""

from __future__ import annotations

# Shared justification texts — each names WHY the flagged input is
# bounded, which is the only thing that makes the shape acceptable.
_SCALAR = (
    "BNLJ broadcast side is a global aggregate (scalar totals / "
    "thresholds / parameter grid), rejoined into the table — 1-to-few "
    "rows regardless of data size"
)
_PROBE = (
    "brute-force scoring pattern: the broadcast side is the bounded "
    "query/probe/codebook set, never the corpus"
)
_HIST = (
    "global window runs over a pre-aggregated bounded grain (distinct "
    "scores / buckets / deciles / vocab census), not raw rows"
)
_CAL = (
    "global window over a calendar-grain series (days/weeks) — bounded "
    "by the time range, not the row count"
)
_TOPK = "global window input is orderBy().limit(k) — bounded by k"
_TWO_PASS = (
    "documented two-pass prefix-sum scale pattern: the global window "
    "runs only over per-bucket reductions (bounded bucket count)"
)
_DIM = (
    "global window over an aggregated dimension grain (part/supplier "
    "rollup) — dimension-sized, not fact-sized"
)
_SMJ = (
    "multi-way equi-join pipeline over candidate-bounded / "
    "group-grain inputs; the join count is intrinsic to the algorithm, "
    "each join keyed and shuffle-partitioned"
)

_BNLJ_SCALAR_OPS = (
    "ann_recall_report", "basket_lift_brand_pairs", "benford_first_digit",
    "bh_fdr_pairwise", "bigram_logprob_score", "bloom_filter_semi_join",
    "bm25_scores", "caliper_matching_att", "chi_square_lang_source",
    "conformal_daily_interval", "corpus_health_scorecard",
    "count_min_estimates", "cuped_adjusted_ab", "cusum_change_detection",
    "decision_stump_train", "distinctive_tokens_per_source",
    "dow_adjusted_spike_days", "dow_seasonality", "dsir_importance_weights",
    "ess_after_raking", "feature_minmax_scale", "filter_cascade_report",
    "heavy_hitters_tokens", "impute_mean", "ipf_raking_step",
    # r10: 1-row corpus-total / global-distribution / min-and-sum
    # broadcasts rejoined onto bounded domain/QI grids
    "domain_excess_loss_weights", "t_closeness_audit",
    # r11: the sampling manifest crossJoins three 1-row scalar frames
    # (excess total, token budget, kept total); the weights table
    # itself rides a bounded source-grain broadcast equi-join
    "doremi_sampling_manifest",
    # r10: the non-equi quantile match joins the two VALUE-DOMAIN
    # histograms (bounded distinct lengths), never doc rows
    "quantile_normalize_lengths",
    "isotonic_calibration_pav", "js_divergence_sources", "key_skew_profile",
    "kneser_ney_bigram_score", "ks_test_priority_totals",
    "lang_sampling_temperature", "loo_nation_mean_influence",
    "minhash_banding_curve", "mutual_info_lang_source",
    "naive_bayes_langid", "nb_macro_f1", "near_dup_triangle_stats",
    "neyman_allocation_plan", "pairwise_proportion_tests",
    "pca_power_iteration_step", "percent_rank_approx",
    "poisson_bootstrap_ci", "psi_source_drift", "rbo_rankings",
    "rebalance_sample_plan", "remove_boilerplate_tokens",
    "retrieval_metrics_at_k", "rfm_segments", "roc_points",
    "roc_points_bucketed", "rrf_fusion_topk", "segment_migration_matrix",
    "sketch_merge_running_distinct", "source_mixing_weights",
    "spc_control_chart", "split_leakage_audit", "stratified_ate_discount",
    "target_encode_brand", "tfidf_top_terms", "theil_decomposition",
    "theil_sen_daily_slope", "token_cooccurrence_pmi",
    "token_coverage_curve", "tpch_q11_important_parts",
    "tpch_q22_idle_rich_customers", "ucb1_variant_scores",
    "unigram_logprob_score", "wasserstein_1d_priority", "woe_iv_encoding",
    "ccnet_perplexity_split",
    # r8: 1-row broadcast corpus-total cross-joined onto the K-source
    # aggregate / the 32-bucket weight spine / the 1-row sweep sums
    "epoch_allocation_plan", "quality_classifier_gd_step",
    "semdedup_threshold_sweep",
    # r9: the convergence twin of quality_classifier_gd_step — same
    # 1-row crossJoin(n) doc-count total
    # (classic_ml.py, quality_classifier_gd_convergence), unrolled 3x
    "quality_classifier_gd_convergence",
    # r9: the trained-scorer consumer unrolls the same 3 steps (3x the
    # 1-row doc-count broadcast) before the final scoring pass
    "quality_classifier_trained_scores",
    # r9: the ensemble report cross-joins the 1-row sums aggregate onto
    # the 3-row literal pair spine (plus the trained chain's own 1-row
    # doc-count broadcasts upstream)
    "quality_filter_agreement",
    # r14: 1-row corpus-total crossJoin onto the bounded N_CELLS-grain
    # cell counts (similarity.py, ann_cell_balance_stats)
    "ann_cell_balance_stats",
    # r14: 1-row model-fingerprint crossJoin onto the 32-row weight
    # spine, plus the trained chain's own 1-row doc-count broadcasts
    # upstream (classic_ml.py, qgd_weights_manifest)
    "qgd_weights_manifest",
)
_BNLJ_PROBE_OPS = (
    "cosine_topk_brute", "binary_hamming_topk", "hard_negatives_topk",
    "mmr_diversified_topk", "matryoshka_prefix_recall",
    # r14: the theta fan-out (prank <= probe_depth) rides an N_PROBE-row
    # depth spine broadcast, plus the embedded brute-truth's bounded
    # query broadcast (similarity.py, ivf_probe_recall_curve)
    "ivf_probe_recall_curve",
    # r15: the exact-vs-int8 rerank audit scores one corpus pass
    # against the bounded N_QUERIES broadcast — the same
    # crossJoin(queries) probe shape as
    # cosine_topk_brute, with the int8 code arrays built in the same
    # projection (similarity.py, int8_rerank_fidelity)
    "int8_rerank_fidelity",
)
_WIN_HIST_OPS = (
    "auc_langid_score", "gains_chart_langid", "isotonic_calibration_pav",
    "ks_test_priority_totals", "mannwhitney_priority_totals",
    "median_two_pass_exact", "percent_rank_approx",
    "percent_rank_cume_dist", "roc_points", "roc_points_bucketed",
    "wasserstein_1d_priority", "decision_stump_train", "bh_fdr_pairwise",
    "zipf_fit", "token_coverage_curve", "vocab_growth_curve",
    # r10: rank window over the vocabulary census (corpus-independent)
    "token_gini_concentration",
    # r10: pooled-CDF window over the value-domain histogram (bounded
    # distinct lengths)
    "quantile_normalize_lengths",
    "poisson_bootstrap_ci", "conformal_daily_interval",
)
_WIN_CAL_OPS = (
    "cusum_change_detection", "forecast_backtest_naive",
    "kaplan_meier_churn", "logrank_test_churn", "open_lineitems_per_day",
    "revenue_max_drawdown", "seasonal_strength_daily",
    "sketch_merge_running_distinct", "ts_decompose_daily",
    "volume_spike_days",
    # r10: cumulative hazard over the calendar-bounded weekly churn grid
    "nelson_aalen_hazard",
)
_WIN_TOPK_OPS = (
    "rbo_rankings", "rrf_fusion_topk", "revenue_concentration_topn",
    "topk_with_ties", "weighted_sample_topk",
)
_WIN_TWO_PASS_OPS = (
    "global_shuffle_row_number", "max_concurrent_sessions",
    "concurrency_duration_profile", "pack_windows_concat",
    "token_budget_selection",
)
_WIN_DIM_OPS = ("abc_part_classification", "pareto_frontier_suppliers")
_SMJ_OPS = (
    "adamic_adar_verified_pairs", "hits_containment_step",
    "js_divergence_sources", "nb_macro_f1", "neardup_adamic_adar",
    # r9: unrolling 3 GD steps in one plan yields 2 doc-grain equi-joins
    # per step (score join z⋈y, gradient join x⋈r) — the SMJ count is
    # steps*2, bounded by the fixed step count, each keyed on doc_id
    "quality_classifier_gd_convergence",
    # r14: ships the same trained chain's final weights — inherits the
    # fixed-step doc-grain joins verbatim (classic_ml.py,
    # qgd_weights_manifest); the manifest itself adds no join beyond
    # the 32-row fingerprint broadcast
    "qgd_weights_manifest",
    # r9: triangle counting joins the LSH-candidate edge list to itself
    # twice (wedge close) — both sides are the banded candidate set,
    # never doc x doc
    "local_clustering_coefficient",
    # r9: 3 unrolled GD steps (2 doc-grain equi-joins each) + the final
    # trained-score join — SMJ count = steps*2 + 1, bounded by the
    # fixed step count, each keyed on doc_id
    "quality_classifier_trained_scores",
    # r9: the trained chain's intrinsic step joins plus TWO doc-grain
    # ensemble equi-joins (gopher keep ⋈ classifier keep ⋈ ccnet keep)
    # — join count fixed by the filter count, each keyed on doc_id
    "quality_filter_agreement",
)

ALLOWLIST: dict[tuple[str, str], str] = {}
for _op in _BNLJ_SCALAR_OPS:
    ALLOWLIST[(_op, "bnlj")] = _SCALAR
for _op in _BNLJ_PROBE_OPS:
    ALLOWLIST[(_op, "bnlj")] = _PROBE
ALLOWLIST[("join_cross", "bnlj")] = (
    "the deliberate cross-join exhibit: both sides are bounded dims "
    "(region x region)"
)
for _op in _WIN_HIST_OPS:
    ALLOWLIST[(_op, "global-window")] = _HIST
for _op in _WIN_CAL_OPS:
    ALLOWLIST[(_op, "global-window")] = _CAL
for _op in _WIN_TOPK_OPS:
    ALLOWLIST[(_op, "global-window")] = _TOPK
for _op in _WIN_TWO_PASS_OPS:
    ALLOWLIST[(_op, "global-window")] = _TWO_PASS
for _op in _WIN_DIM_OPS:
    ALLOWLIST[(_op, "global-window")] = _DIM
for _op in _SMJ_OPS:
    ALLOWLIST[(_op, "multi-smj")] = _SMJ
ALLOWLIST[("kendall_tau_nation_metrics", "cartesian")] = (
    "pair table is the bounded 25x24/2 nation grid (both join sides are "
    "25-row nation aggregates)"
)
ALLOWLIST[("row_udf_label", "python-udf")] = (
    "the deliberate labeled row-at-a-time UDF exhibit, kept as the "
    "contrast op for the pandas_udf fast path"
)


def kind_of(warning: str) -> str:
    """Map a lint_plan warning string to its allowlist kind key."""
    if warning.startswith("CartesianProduct"):
        return "cartesian"
    if warning.startswith("BroadcastNestedLoopJoin"):
        return "bnlj"
    if warning.startswith("Window with no PARTITION BY"):
        return "global-window"
    if warning.startswith("row-at-a-time Python UDF"):
        return "python-udf"
    if "sort-merge joins" in warning:
        return "multi-smj"
    return "unknown"
