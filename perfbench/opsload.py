"""The ``ops_sf0.1`` / ``ops_sf0.01`` workloads: operator calls to the
noop sink, one closed-loop caller.

A pass calls every op of :data:`OPS` (or, with ``--all-ops``, of
:data:`HEADLINE`) once, in an order drawn from the seed. The first pass
runs in a fresh session (JIT warm-up, memo fills, Python-worker start); steady passes follow until ``--seconds`` have
passed, each pass completed, so every op has the same number of steady
samples. An op's latency runs from the call that builds its DataFrame
to the end of the noop write. Correctness is checked between the first
and the steady passes, untimed: each op's output against its DuckDB
oracle.
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import sys
import time

from spans import SparkCounters, Tracer, counts, percentile, self_times

CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus")

# Frozen: the benchmark's own copy of the 62 headline operators, so that
# edits to bench.py (its warm-up list, its isolation pins) never change
# what this benchmark measures. ``--all-ops`` runs all of them.
HEADLINE = (
    "flagship_revenue_by_nation", "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier", "group_agg_multi", "join_inner_broadcast", "join_left_outer",
    "window_topk_per_group", "rolling_mean_std", "sessionize_gap", "tumbling_window_hourly",
    "asof_join_backward", "explode_tokens", "dedup_minhash_lsh", "cosine_topk_brute",
    "median_quantiles", "scan_project_derive", "grouping_sets", "pivot_status_qty",
    "quality_score", "hash_sample", "pandas_udf_sigmoid", "tfidf_top_terms", "rolling_range_7d",
    "sequence_islands", "tpch_q8_market_share", "tpch_q21_waiting_suppliers", "pq_adc_topk",
    "scd2_history", "zorder_key", "unigram_logprob_score", "heavy_hitters_tokens",
    "ohlc_bars_hourly", "scd2_point_in_time_join", "rfm_segments", "ks_test_priority_totals",
    "pack_windows_concat", "naive_bayes_langid", "item_item_cf_topk", "pca_power_iteration_step",
    "corpus_health_scorecard", "gains_chart_langid", "kaplan_meier_churn",
    "winnowing_fingerprint_overlap", "repeated_span_stats", "repeated_span_excision",
    "semdedup_keep_list", "hashed_linear_quality_score", "gopher_quality_flags",
    "ngram_novelty_score", "quality_classifier_trained_scores", "contrastive_triplet_mining",
    "domain_excess_loss_weights", "ann_index_manifest", "doremi_sampling_manifest",
    "ann_manifest_query_topk", "audio_chunk_export_manifest", "int8_vector_export_manifest",
    "ann_cell_balance_stats", "ivf_probe_recall_curve", "int8_rerank_fidelity",
    "audio_manifest_integrity",
)

# The ops a workload run times. A full HEADLINE pass takes about a minute
# at sf0.1 on four cores (see NOTES.md), too long for a cold pass, the
# oracle check and several steady passes in one run. One op per
# structural family: scan/join/agg with broadcast joins (flagship),
# gaps-and-islands windows over events, PCA power iteration (a session
# memo that fills the CacheManager), Misra-Gries heavy hitters
# (mapInPandas, so Python workers) and brute cosine top-k (embeddings).
# An odd count keeps the latency median inside one op's samples instead
# of in the gap between two ops.
OPS = (
    "flagship_revenue_by_nation",
    "sequence_islands",
    "pca_power_iteration_step",
    "heavy_hitters_tokens",
    "cosine_topk_brute",
)
assert len(HEADLINE) == 62 and set(OPS) <= set(HEADLINE)


class OpsWorkload:
    def __init__(self, sf: float, ops: tuple[str, ...] = OPS):
        self.sf, self.ops = sf, ops
        self.sf_dir = os.path.join(CORPUS, f"sf{sf}")

    @staticmethod
    def load_frames(spark, sf_dir: str) -> dict:
        """None: each op loads its own tables while it builds, which the
        sources layer measures."""
        return {}

    def run(self, ctx) -> dict:
        from my_polars_ai_spark.operators import all_ops

        registry = all_ops()
        spark, rng = ctx.spark, random.Random(ctx.seed)
        tracer = Tracer(spark.sparkContext) if ctx.trace else None
        counters = SparkCounters(spark) if ctx.trace else None
        errors: dict[str, str] = {}

        def one_pass(k: int, traced: bool) -> dict:
            order = list(self.ops)
            rng.shuffle(order)
            if traced:
                counters.drain()
                counters.skip_sql_executions()
            lat: dict[str, float] = {}
            t0 = time.perf_counter()
            with _load_table_traced(tracer) if traced else contextlib.nullcontext():
                for i, name in enumerate(order):
                    t = time.perf_counter()
                    try:
                        if traced:
                            _call_traced(tracer, registry[name], spark, ctx.sf_dir, f"p{k}:{i}")
                        else:
                            _call(registry[name], spark, ctx.sf_dir)
                    except Exception as exc:  # counted as failed; the pass goes on
                        errors.setdefault(name, f"{type(exc).__name__}: {str(exc)[:300]}")
                        continue
                    lat[name] = time.perf_counter() - t
            rec = {"wall_s": time.perf_counter() - t0, "traced": traced, "lat": lat}
            if traced:
                rec.update(_pass_layers(tracer.take(), counters, k, len(order)))
            return rec

        first = one_pass(0, ctx.trace)
        # The second call of an op is still well above its steady latency
        # (JIT tiers, first reuse of memo fills), so the untimed oracle
        # check runs here and doubles as the warm-up pass.
        t = time.perf_counter()
        wrong = _check(ctx, registry, self.ops)
        check_s = time.perf_counter() - t
        passes: list[dict] = []
        t0 = time.perf_counter()
        # Traced runs alternate untraced and traced steady passes, from an
        # untraced one and at least U-T-U, so the run reports its own
        # tracing overhead against the passes around it.
        while time.perf_counter() - t0 < ctx.seconds or len(passes) < (3 if ctx.trace else 1):
            passes.append(one_pass(len(passes) + 1, ctx.trace and len(passes) % 2 == 1))
        steady_wall = time.perf_counter() - t0

        all_passes = [first] + passes
        attempted = len(all_passes) * len(self.ops)
        failed = sum(len(self.ops) - len(p["lat"]) + sum(n in wrong for n in p["lat"]) for p in all_passes)

        plain = [p for p in passes if not p["traced"]]
        samples = [x for p in plain for x in p["lat"].values()]
        metrics = {
            "first_pass_s": first["wall_s"],
            "latency_p50_s": statistics.median(samples),
            "latency_p90_s": percentile(samples, 90),
            "throughput_per_s": len(samples) / sum(p["wall_s"] for p in plain),
        }
        per_op = {n: [p["lat"][n] for p in plain if n in p["lat"]] for n in self.ops}
        detail = {
            "steady_passes": len(passes),
            "steady_wall_s": steady_wall,
            "check_s": check_s,
            "latency_samples": len(samples),
            "per_op_median_s": {n: round(statistics.median(v), 4) for n, v in per_op.items() if v},
            "first_pass_per_op_s": {n: round(v, 4) for n, v in first["lat"].items()},
            "wrong": wrong,
            "errors": errors,
        }
        if ctx.trace:
            traced = [p for p in passes if p["traced"]]
            metrics.update(_layer_metrics(first, traced, plain))
            detail["max_op_remainder_frac"] = max(r for p in traced for r in p["remainders"].values())
        return {
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
            "detail": detail,
            "idle_layers": ("engine.",),  # the engine layer does no work here
        }


def _call(op, spark, sf_dir: str) -> None:
    op.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def _call_traced(tracer: Tracer, op, spark, sf_dir: str, tag: str) -> None:
    """The same call as :func:`_call`, split at its layer boundaries.
    Forcing the physical plan first times Catalyst planning on its own;
    the noop write then re-optimizes the analyzed plan, which is part of
    the tracing overhead."""
    with tracer.span("op") as rec:
        rec["op"] = op.name
        with tracer.span("operators.build", group=f"{tag}:build"):
            df = op.fn(spark, sf_dir)
        with tracer.span("plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("execute", group=f"{tag}:execute"):
            df.write.format("noop").mode("overwrite").save()


@contextlib.contextmanager
def _load_table_traced(tracer: Tracer):
    """Swap every module-level reference to ``load_table`` in the
    package for a traced wrapper, and restore them on exit."""
    from my_polars_ai_spark.sources import tables

    orig = tables.load_table
    traced = tracer.wrap("sources.load_table", orig)
    swapped = []
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith("my_polars_ai_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, traced)
                swapped.append((mod, attr))
    try:
        yield
    finally:
        for mod, attr in swapped:
            setattr(mod, attr, orig)


def _pass_layers(spans: list[dict], counters: SparkCounters, k: int, n_ops: int) -> dict:
    counters.drain()
    ops = [s for s in spans if s["name"] == "op"]
    tags = [f"p{k}:{i}" for i in range(n_ops)]
    cached_rdds, storage_bytes = counters.storage()
    return {
        "self_s": self_times(spans),
        "calls": counts(spans),
        "execute": counters.jobs([t + ":execute" for t in tags]),
        "build_jobs": counters.jobs([t + ":build" for t in tags])["jobs"],
        "broadcast_collect_s": counters.broadcast_collect_s(),
        "cached_rdds": cached_rdds,
        "storage_bytes": storage_bytes,
        # an op span's self time is what its layer spans do not cover
        "remainders": {s["op"]: s["self_s"] / (s["end"] - s["start"]) for s in ops},
    }


LAYER_TIMES = {
    "sources.load_table_s": "sources.load_table",
    "operators.build_s": "operators.build",
    "plan.s": "plan",
    "execute.s": "execute",
}


def _layer_metrics(first: dict, traced: list[dict], plain: list[dict]) -> dict:
    """Per-pass layer totals, median over the traced steady passes."""

    def med(fn):
        return statistics.median(fn(p) for p in traced)

    out = {name: med(lambda p, s=span: p["self_s"].get(s, 0.0)) for name, span in LAYER_TIMES.items()}
    out["sources.load_table_calls"] = med(lambda p: p["calls"].get("sources.load_table", 0))
    # build share of the pass: build self time plus the loads it made
    out["operators.build_share"] = med(
        lambda p: (p["self_s"]["operators.build"] + p["self_s"].get("sources.load_table", 0.0)) / p["wall_s"]
    )
    out["operators.build_jobs"] = med(lambda p: p["build_jobs"])
    for key in ("jobs",) + SparkCounters.STAGE_FIELDS:
        out[f"execute.{key}"] = med(lambda p, key=key: p["execute"][key])
    out["execute.broadcast_collect_s"] = med(lambda p: p["broadcast_collect_s"])
    out["cache.cached_rdds"] = med(lambda p: p["cached_rdds"])
    out["cache.storage_bytes"] = med(lambda p: p["storage_bytes"])
    out["cache.fill_s"] = first["wall_s"] - med(lambda p: p["wall_s"])
    out["trace.overhead_frac"] = med(lambda p: p["wall_s"]) / statistics.median(p["wall_s"] for p in plain) - 1
    out["trace.remainder_frac"] = med(
        lambda p: p["self_s"].get("op", 0.0) / sum(p["lat"].values())
    )
    return out


def _check(ctx, registry, names) -> dict[str, str]:
    """Each op's output against its DuckDB oracle, outside the timed
    passes; a row count where an op has no oracle. Returns {op: issue}."""
    import duckdb

    from my_polars_ai_spark.sources.tables import TABLES

    sys.path.insert(0, os.path.join(ctx.root, "tools"))
    from verify_local import compare

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{ctx.sf_dir}/{t}.parquet'")
    wrong = {}
    for name in names:
        op = registry[name]
        try:
            df = op.fn(ctx.spark, ctx.sf_dir)
            if op.oracle is None:
                df.count()
                continue
            cur = con.execute(op.oracle)
            issues = compare(df, cur.fetchall(), [d[0] for d in cur.description])
        except Exception as exc:  # a crash in the check is a wrong answer
            issues = [f"{type(exc).__name__}: {str(exc)[:300]}"]
        if issues:
            wrong[name] = "; ".join(issues)[:500]
    con.close()
    return wrong


WORKLOADS = {"ops_sf0.1": OpsWorkload(0.1), "ops_sf0.01": OpsWorkload(0.01)}
