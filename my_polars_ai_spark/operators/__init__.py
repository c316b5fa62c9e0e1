"""Operator registry: one named, oracle-checked query per SURVEY.md §2b row.

``all_ops()`` aggregates every module's OPS dict; ``__spark_entry__.py``
exposes them to the driver as ``queries()`` / ``oracle_sql()``.

Ordering contract: the driver's CORRECTNESS gate checks the first 50
entries of ``all_ops()``, and those entries are ``_PRIORITY`` in order;
every other op follows in module order. Coverage of the whole registry
comes from ``tests/test_registry_sweep.py``.
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

_PRIORITY = (
    "flagship_revenue_by_nation",
    "dedup_minhash_lsh",
    "sql_api_revenue",
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
)


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
