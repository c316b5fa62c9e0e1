"""Physical-plan regression tests: the 100 TB properties claimed in
PERF.md, asserted structurally so future rounds can't silently regress
them (a slow plan that still returns correct rows would pass the oracle
gate — these tests are the scale gate)."""

from __future__ import annotations

from my_polars_ai_spark.operators import all_ops
from my_polars_ai_spark.plans.inspect import plan_summary, pushed_filters, read_schemas


def test_flagship_broadcasts_dims_and_prunes_columns(spark, sf_dir):
    df = all_ops()["flagship_revenue_by_nation"].fn(spark, sf_dir)
    s = plan_summary(df)
    assert s["broadcast_joins"] >= 1  # nation must broadcast
    assert s["nested_loop_joins"] == 0
    assert s["python_evals"] == 0
    schemas = read_schemas(df)
    # lineitem scan reads exactly the 3 needed columns
    assert any(
        set(sch) >= set("l_orderkey") and "l_extendedprice" in sch and "l_quantity" not in sch
        for sch in schemas
    ), schemas


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    df = all_ops()["tpch_q1_pricing_summary"].fn(spark, sf_dir)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p and "LessThanOrEqual" in p for p in pushed), pushed


def test_topk_compiles_to_take_ordered(spark, sf_dir):
    df = all_ops()["topk_orders"].fn(spark, sf_dir)
    assert plan_summary(df)["take_ordered"] >= 1


def test_relational_ops_stay_jvm_side(spark, sf_dir):
    """No Python evaluation anywhere in the relational/window/timeseries
    plans — UDF boundaries are only allowed in the explicitly-UDF ops."""
    ops = all_ops()
    for name in (
        "tpch_q1_pricing_summary",
        "join_inner_broadcast",
        "window_topk_per_group",
        "rolling_mean_std",
        "sessionize_gap",
        "tumbling_window_hourly",
        "dedup_minhash_lsh",
        "cosine_topk_brute",
    ):
        s = plan_summary(ops[name].fn(spark, sf_dir))
        assert s["python_evals"] == 0, name


def test_udf_ops_have_exactly_one_python_boundary(spark, sf_dir):
    ops = all_ops()
    for name in ("pandas_udf_sigmoid", "apply_in_pandas_zscore"):
        s = plan_summary(ops[name].fn(spark, sf_dir))
        assert s["python_evals"] == 1, name
    # multimodal_decode is a two-stage pipeline (encode + decode), each an
    # Arrow-batched mapInPandas: exactly two Python boundaries, no more
    s = plan_summary(ops["multimodal_decode"].fn(spark, sf_dir))
    assert s["python_evals"] == 2, s


def test_interval_join_is_bucketed_equi_join(spark, sf_dir):
    """interval_join_bucketed: day-bucket fan-out must yield a hash/merge
    equi-join, never a nested-loop range join."""
    s = plan_summary(all_ops()["interval_join_bucketed"].fn(spark, sf_dir))
    assert s["nested_loop_joins"] == 0, s
    assert s["python_evals"] == 0


def test_fuzzy_join_is_blocked_equi_join(spark, sf_dir):
    """fuzzy_levenshtein_pairs must join on the length-bucket blocking key
    (hash join), not BNLJ over vocab^2."""
    s = plan_summary(all_ops()["fuzzy_levenshtein_pairs"].fn(spark, sf_dir))
    assert s["nested_loop_joins"] == 0, s
    assert s["broadcast_joins"] + s["sortmerge_joins"] + s["shuffled_hash_joins"] >= 1, s


def test_scale_safe_twins_avoid_full_table_global_window(spark, sf_dir):
    """percent_rank_approx / roc_points_bucketed: the global window runs
    over the bucket histogram (post-aggregation), so the per-row path must
    rejoin via broadcast (pr) / aggregate first (roc) — never sort the
    table into one partition."""
    ops = all_ops()
    pr = plan_summary(ops["percent_rank_approx"].fn(spark, sf_dir))
    assert pr["broadcast_joins"] >= 1
    assert pr["sortmerge_joins"] == 0 and pr["nested_loop_joins"] >= 1  # tiny totals cross join
    assert pr["python_evals"] == 0
    roc = plan_summary(ops["roc_points_bucketed"].fn(spark, sf_dir))
    assert roc["python_evals"] == 0
    assert roc["sortmerge_joins"] == 0


def test_brute_force_knn_broadcasts_query_side(spark, sf_dir):
    s = plan_summary(all_ops()["cosine_topk_brute"].fn(spark, sf_dir))
    # cross join with broadcast => BroadcastNestedLoopJoin, never CartesianProduct shuffle
    assert s["nested_loop_joins"] >= 1
    assert s["sortmerge_joins"] == 0


def test_lint_plan_flags_scale_killers(spark, sf_dir):
    from pyspark.sql import Window, functions as F

    from my_polars_ai_spark.plans.guardrails import lint_plan
    from my_polars_ai_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events")
    # global window -> flagged
    w = Window.orderBy("value")
    global_rank = e.select("event_id", F.percent_rank().over(w).alias("pr"))
    assert any("PARTITION BY" in x for x in lint_plan(global_rank))
    # row UDF -> flagged
    label = F.udf(lambda s: s + "!")
    row_udf = e.select(label("event_type").alias("x"))
    assert any("row-at-a-time" in x for x in lint_plan(row_udf))
    # healthy partitioned aggregation -> clean
    clean = e.groupBy("event_type").count()
    assert lint_plan(clean) == []
    # the flagship join plan -> clean
    assert lint_plan(all_ops()["flagship_revenue_by_nation"].fn(spark, sf_dir)) == []


def test_engine_logs_plan_warnings(spark, sf_dir):
    from my_polars_ai_spark.engine.core import SparkAI
    from my_polars_ai_spark.engine.llm import FakeLLM
    from my_polars_ai_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events")
    llm = FakeLLM(
        output="<startCode>\n"
        "df.select('event_id', F.percent_rank().over(W.orderBy('value')).alias('pr'))\n"
        "<endCode>"
    )
    ai = SparkAI(llm=llm, enable_cache=False)
    ai.run(e, "rank all events by value")
    assert any("Plan warning" in line and "PARTITION BY" in line for line in ai.logs)


def test_q19_disjunction_stays_hash_join(spark, sf_dir):
    """The OR-of-ANDs residual must ride the equi hash join, never
    degrade it to a nested loop."""
    s = plan_summary(all_ops()["tpch_q19_disjunctive_filter"].fn(spark, sf_dir))
    assert s["nested_loop_joins"] == 0, s
    assert s["broadcast_joins"] >= 1
    assert s["pushed_filters"] >= 1


def test_q21_exists_pair_decorrelates_to_semi_anti_hash_joins(spark, sf_dir):
    """EXISTS/NOT-EXISTS must run as LEFT SEMI + LEFT ANTI hash joins on
    the order key with a TakeOrderedAndProject top-100 — no nested loop,
    no global sort, no Python."""
    s = plan_summary(all_ops()["tpch_q21_waiting_suppliers"].fn(spark, sf_dir))
    assert s["nested_loop_joins"] == 0, s
    assert s["python_evals"] == 0
    assert s["take_ordered"] >= 1
    assert s["broadcast_joins"] + s["sortmerge_joins"] + s["shuffled_hash_joins"] >= 3


def test_q8_dims_broadcast_single_agg_pass(spark, sf_dir):
    """Seven-table join: every dim side must broadcast (at most the two
    fact-fact exchanges + the group-by shuffle remain), and the
    conditional + total sums must come from ONE aggregation (no
    self-join of two aggregates)."""
    s = plan_summary(all_ops()["tpch_q8_market_share"].fn(spark, sf_dir))
    assert s["broadcast_joins"] >= 5, s
    assert s["nested_loop_joins"] == 0
    assert s["exchanges"] <= 4, s


def test_q2_part_filter_precedes_per_part_min(spark, sf_dir):
    """The part filter must semi-join the cost table BEFORE the per-part
    minimum aggregates (filter-then-aggregate, not aggregate-everything);
    structurally: no nested loop, part/supplier sides broadcast."""
    s = plan_summary(all_ops()["tpch_q2_min_cost_supplier"].fn(spark, sf_dir))
    assert s["nested_loop_joins"] == 0, s
    assert s["broadcast_joins"] >= 2
    assert s["take_ordered"] >= 1


def test_contamination_joins_on_gram_never_doc_pairs(spark, sf_dir):
    """benchmark_contamination must meet in an equi join on the shingle
    (hash-joinable key), never a doc-by-doc nested loop."""
    s = plan_summary(all_ops()["benchmark_contamination"].fn(spark, sf_dir))
    assert s["nested_loop_joins"] == 0, s
    assert s["python_evals"] == 0


def test_boilerplate_removal_has_no_per_token_rewrite_shuffle(spark, sf_dir):
    """remove_boilerplate_tokens rewrites documents via a broadcast
    vocabulary array filter: the only exchanges allowed are the df
    aggregation's — the rewrite itself must be a narrow map (no join of
    the fact table against exploded tokens)."""
    s = plan_summary(all_ops()["remove_boilerplate_tokens"].fn(spark, sf_dir))
    assert s["python_evals"] == 0
    assert s["sortmerge_joins"] == 0, s


def test_partitioned_write_prunes_partitions_on_read(spark, sf_dir, tmp_path):
    """Hive-partitioned layout (the 100 TB default): a filter on the
    partition column must become PartitionFilters on the scan — pruned
    directory listing, zero data files read from other partitions — and
    not appear in PushedFilters/data filters."""
    from pyspark.sql import functions as F

    from my_polars_ai_spark.plans.inspect import explain_str
    from my_polars_ai_spark.sources.tables import load_table
    from my_polars_ai_spark.sources.writers import write_parquet

    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    write_parquet(e, str(tmp_path / "events_part"), partition_by=["event_date"])
    back = spark.read.parquet(str(tmp_path / "events_part")).filter(
        F.col("event_date") == "2024-01-03"
    )
    plan = explain_str(back)
    assert "PartitionFilters" in plan, plan
    # the partition predicate must appear in PartitionFilters...
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("event_date" in ln for ln in pf), pf
    # ...and the distributed count only touches the matching partition
    n_pruned = back.count()
    n_full = spark.read.parquet(str(tmp_path / "events_part")).filter(
        F.to_date("ts") == "2024-01-03"  # non-partition predicate, full scan
    ).count()
    assert n_pruned == n_full


def test_scd2_reuses_one_sort_shuffle(spark, sf_dir):
    """All three SCD2 windows share the (o_custkey, orderdate) sort —
    the plan must carry exactly one hash exchange, not one per window."""
    s = plan_summary(all_ops()["scd2_history"].fn(spark, sf_dir))
    assert s["exchanges"] == 1, s
    assert s["python_evals"] == 0


def test_zorder_key_is_zero_shuffle_narrow_map(spark, sf_dir):
    s = plan_summary(all_ops()["zorder_key"].fn(spark, sf_dir))
    assert s["exchanges"] == 0, s
    assert s["scans"] == 1
    assert s["python_evals"] == 0


def test_groupwise_ols_broadcasts_dims(spark, sf_dir):
    s = plan_summary(all_ops()["groupwise_ols_slope"].fn(spark, sf_dir))
    assert s["broadcast_joins"] == 2, s      # supplier + nation
    assert s["sortmerge_joins"] == 0 and s["shuffled_hash_joins"] == 0
    assert s["python_evals"] == 0


def test_rolling_wau_avoids_range_join(spark, sf_dir):
    """The fan-out formulation must stay equi-join: no nested-loop /
    cartesian range join anywhere in the plan."""
    s = plan_summary(all_ops()["rolling_wau"].fn(spark, sf_dir))
    assert s["nested_loop_joins"] == 0, s


def test_grouped_agg_udaf_is_partial_merge_shape(spark, sf_dir):
    """GROUPED_AGG pandas UDF must plan as aggregation (with the single
    Arrow boundary), not as whole-group FlatMapGroupsInPandas."""
    from my_polars_ai_spark.plans.inspect import explain_str

    df = all_ops()["grouped_agg_sum_squares"].fn(spark, sf_dir)
    text = explain_str(df, mode="simple")
    # Spark 4 plans GROUPED_AGG as ArrowAggregatePython (aggregate node,
    # streaming Arrow batches), never whole-group FlatMapGroupsInPandas
    assert "AggregatePython" in text or "AggregateInPandas" in text, text
    assert "FlatMapGroupsInPandas" not in text


def test_record_linkage_blocking_is_equi_join(spark, sf_dir):
    """The length-band blocking must compile to a hash equi-join on the
    fan-out bucket — never an inequality nested loop."""
    s = plan_summary(all_ops()["record_linkage_parts"].fn(spark, sf_dir))
    assert s["nested_loop_joins"] == 0, s
    assert s["python_evals"] == 0


def test_co_supplier_projection_bounded_report(spark, sf_dir):
    s = plan_summary(all_ops()["co_supplier_pairs"].fn(spark, sf_dir))
    assert s["nested_loop_joins"] == 0, s
    assert s["take_ordered"] >= 1, s          # top-100 compiles to TakeOrdered


def test_new_window_ops_stay_jvm_side(spark, sf_dir):
    ops = all_ops()
    for name in ("late_arrival_fraction", "running_distinct_event_types",
                 "weighted_median_per_group", "max_concurrent_sessions",
                 "inverted_index_build"):
        s = plan_summary(ops[name].fn(spark, sf_dir))
        assert s["python_evals"] == 0, name


def test_session4_ops_plan_contracts(spark, sf_dir):
    """Scale-shape assertions for the round-4 session-4 additions."""
    ops = all_ops()
    # prefix-filter join: document-frequency table broadcasts; everything
    # stays JVM-side (exact-recall candidate generation is still relational)
    s = plan_summary(ops["dedup_prefix_filter_jaccard"].fn(spark, sf_dir))
    assert s["python_evals"] == 0
    assert s["broadcast_joins"] >= 1
    # heavy hitters: exactly ONE Python boundary (the Misra-Gries
    # mapInPandas); candidate recount joins against a broadcast
    s = plan_summary(ops["heavy_hitters_tokens"].fn(spark, sf_dir))
    assert s["python_evals"] == 1
    assert s["broadcast_joins"] + s["nested_loop_joins"] >= 2
    # seeded global shuffle: the only single-partition exchange allowed is
    # the 64-row offsets window — the per-bucket numbering must stay
    # hash-partitioned
    from my_polars_ai_spark.plans.inspect import explain_str

    df = ops["global_shuffle_row_number"].fn(spark, sf_dir)
    txt = explain_str(df, mode="simple")
    assert txt.count("Exchange SinglePartition") <= 1, txt
    assert plan_summary(df)["python_evals"] == 0
    # sliding chunker: a pure narrow map — zero shuffles of any kind
    s = plan_summary(ops["chunk_sliding_windows"].fn(spark, sf_dir))
    assert s["exchanges"] == 0
    assert s["python_evals"] == 0
    # hard negatives: anchor set broadcasts (never a corpus x corpus join)
    s = plan_summary(ops["hard_negatives_topk"].fn(spark, sf_dir))
    assert s["broadcast_joins"] + s["nested_loop_joins"] >= 1
    assert s["sortmerge_joins"] == 0
    # centroid outliers: the (label x dim) sums broadcast back
    s = plan_summary(ops["centroid_outlier_scores"].fn(spark, sf_dir))
    assert s["broadcast_joins"] >= 1
    assert s["python_evals"] == 0
    # decayed revenue: ONE shuffle (the customer groupBy), nothing else
    s = plan_summary(ops["decay_weighted_revenue"].fn(spark, sf_dir))
    assert s["exchanges"] == 1
    assert s["python_evals"] == 0


def test_session4_batch2_plan_contracts(spark, sf_dir):
    """Scale-shape assertions for the second wave of session-4 ops."""
    ops = all_ops()
    # basket lift: pair join keyed on l_orderkey; brand counts broadcast
    s = plan_summary(ops["basket_lift_brand_pairs"].fn(spark, sf_dir))
    assert s["broadcast_joins"] + s["nested_loop_joins"] >= 3
    assert s["python_evals"] == 0
    # OHLC: ONE aggregation, no window/join machinery
    s = plan_summary(ops["ohlc_bars_hourly"].fn(spark, sf_dir))
    assert s["exchanges"] == 1
    assert s["broadcast_joins"] + s["sortmerge_joins"] + s["shuffled_hash_joins"] == 0
    # weighted sampling: per-partition top-k, not a global sort
    s = plan_summary(ops["weighted_sample_topk"].fn(spark, sf_dir))
    assert s["take_ordered"] >= 1
    # PSI: everything joins against broadcast bounded tables
    s = plan_summary(ops["psi_source_drift"].fn(spark, sf_dir))
    assert s["python_evals"] == 0
    # centroid similarity: corpus scanned ONCE (self-join happens on the
    # tiny label x dim aggregate, which Spark may or may not reuse — but
    # there must be no second corpus-shuffle fan-out)
    s = plan_summary(ops["label_centroid_similarity"].fn(spark, sf_dir))
    assert s["python_evals"] == 0
    # bigram LM: bigrams from a narrow arrays_zip map — no positional
    # self-join of the token table
    s = plan_summary(ops["bigram_logprob_score"].fn(spark, sf_dir))
    assert s["python_evals"] == 0
    # open items per day: running sum only over the bounded daily table
    # (exactly one single-partition exchange, after the day aggregate)
    from my_polars_ai_spark.plans.inspect import explain_str

    txt = explain_str(ops["open_lineitems_per_day"].fn(spark, sf_dir), mode="simple")
    assert txt.count("Exchange SinglePartition") <= 1
    # calibration + A/B: bounded rollups, JVM-side
    for name in ("calibration_curve_langid", "ab_test_two_proportion"):
        s = plan_summary(ops[name].fn(spark, sf_dir))
        assert s["python_evals"] == 0, name


def test_session4_wave3_plan_contracts(spark, sf_dir):
    """Scale-shape assertions for the late-session additions."""
    ops = all_ops()
    # CMS: ONE Python-free pipeline; sketch + probe joins vs broadcasts
    s = plan_summary(ops["count_min_estimates"].fn(spark, sf_dir))
    assert s["python_evals"] == 0
    assert s["broadcast_joins"] + s["nested_loop_joins"] >= 2
    # covariance: corpus scanned once, ONE wide aggregation after the
    # vec_id-keyed pair fan-out — no dim-pair shuffle of raw vectors
    s = plan_summary(ops["embedding_covariance"].fn(spark, sf_dir))
    assert s["python_evals"] == 0
    # PIT join: the union-trick is ONE sort shuffle on the key — there
    # must be NO range/theta join machinery (no nested-loop joins)
    s = plan_summary(ops["scd2_point_in_time_join"].fn(spark, sf_dir))
    assert s["nested_loop_joins"] == 0
    assert s["python_evals"] == 0
    # RFM: quintile boundaries via ONE 1-row reduce broadcast back —
    # no global ntile window over the customer table
    from my_polars_ai_spark.plans.inspect import explain_str

    txt = explain_str(ops["rfm_segments"].fn(spark, sf_dir), mode="simple")
    assert "Window" not in txt
    # winsorized mean / MI / calibration / sentiment: JVM-side
    for name in (
        "winsorized_mean_by_type",
        "mutual_info_lang_source",
        "calibration_curve_langid",
        "sentiment_lexicon_score",
        "dow_adjusted_spike_days",
        "retention_halflife_fit",
    ):
        s = plan_summary(ops[name].fn(spark, sf_dir))
        assert s["python_evals"] == 0, name
    # sentiment: zero shuffles — a pure narrow map
    s = plan_summary(ops["sentiment_lexicon_score"].fn(spark, sf_dir))
    assert s["exchanges"] == 0
    # ABC: the rank window is over the part AGGREGATE (after one
    # exchange for the groupBy, one single-partition for the bounded
    # window) — never over raw lineitem
    txt = explain_str(ops["abc_part_classification"].fn(spark, sf_dir), mode="simple")
    assert txt.count("Exchange SinglePartition") <= 2


def test_doc_grain_rankers_never_sort_corpus_into_one_partition(spark, sf_dir):
    """Round-6 upgrades: the doc-grain rank shapes must not funnel the
    corpus through an unpartitioned window. rrf/rbo take top-depth via
    TakeOrderedAndProject per retriever BEFORE ranking; gains assigns
    exact ntile deciles via the two-pass bucketed-rank scheme (histogram
    cumulative + per-score partitioned row_number + broadcast rejoin)."""
    ops = all_ops()
    s = plan_summary(ops["rrf_fusion_topk"].fn(spark, sf_dir))
    assert s["take_ordered"] >= 2, s      # one per retriever (+ final top-20)
    s = plan_summary(ops["rbo_rankings"].fn(spark, sf_dir))
    assert s["take_ordered"] >= 2, s
    g = ops["gains_chart_langid"].fn(spark, sf_dir)
    s = plan_summary(g)
    assert s["broadcast_joins"] >= 1, s   # per-score cum counts rejoin broadcast
    assert s["python_evals"] == 0
    from my_polars_ai_spark.plans.inspect import explain_str

    txt = explain_str(g, mode="simple")
    # unpartitioned sorts allowed only on bounded sets: the score
    # histogram window and the 10-row decile grid — the per-doc
    # numbering must be hash-partitioned by score_micro
    assert txt.count("Exchange SinglePartition") <= 2, txt


def test_join_hints_control_physical_strategy(spark, sf_dir):
    """The three join-strategy hints must actually steer Catalyst —
    the knob a 100 TB tuning session turns first."""
    from my_polars_ai_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    joined = lambda hint: li.join(o.hint(hint), li.l_orderkey == o.o_orderkey)
    assert plan_summary(joined("broadcast"))["broadcast_joins"] >= 1
    assert plan_summary(joined("merge"))["sortmerge_joins"] >= 1
    assert plan_summary(joined("shuffle_hash"))["shuffled_hash_joins"] >= 1


def test_session4_wave4_plan_contracts(spark, sf_dir):
    """The statistics/causal/finance wave stays JVM-side and bounded."""
    ops = all_ops()
    for name in (
        "cusum_change_detection",
        "spc_control_chart",
        "kaplan_meier_churn",
        "logrank_test_churn",
        "cuped_adjusted_ab",
        "did_estimate",
        "forecast_backtest_naive",
        "yoy_revenue_change",
        "price_index_laspeyres",
        "theil_decomposition",
        "segment_migration_matrix",
        "wau_overlap_jaccard",
        "ar_aging_buckets",
        "chunk_containment_pairs",
        "revenue_max_drawdown",
    ):
        s = plan_summary(ops[name].fn(spark, sf_dir))
        assert s["python_evals"] == 0, name
    # WAU overlap must be a two-key hash join, not a post-filtered
    # nested-loop fan-out (review-2 finding 5)
    s = plan_summary(ops["wau_overlap_jaccard"].fn(spark, sf_dir))
    assert s["nested_loop_joins"] == 0
    # survival ops: the at-risk counts come from the sweep-line
    # entry/exit identity — no weeks x customers CartesianProduct/BNLJ
    for name in ("kaplan_meier_churn", "logrank_test_churn"):
        s = plan_summary(ops[name].fn(spark, sf_dir))
        assert s["nested_loop_joins"] == 0, name
    # AR aging: status filter reaches the scan
    from my_polars_ai_spark.plans.inspect import pushed_filters

    assert any("O" in f for f in pushed_filters(ops["ar_aging_buckets"].fn(spark, sf_dir)))


def test_star_denormalize_is_one_exchange_four_broadcasts(spark, sf_dir):
    """The One-Big-Table star join must cost ONE fact-fact shuffle; all
    dimensions broadcast."""
    ops = all_ops()
    s = plan_summary(ops["star_denormalize_wide"].fn(spark, sf_dir))
    assert s["broadcast_joins"] >= 4
    assert s["sortmerge_joins"] + s["shuffled_hash_joins"] <= 1
    assert s["python_evals"] == 0


def test_session4_wave5_plan_contracts(spark, sf_dir):
    """Spark-4 surface wave: scripting/parameterized SQL still produce
    ordinary optimized plans (pushdown intact), and the polymorphic
    UDTF is one Python boundary."""
    ops = all_ops()
    s = plan_summary(ops["udtf_ngrams_polymorphic"].fn(spark, sf_dir))
    assert s["python_evals"] == 1
    # parameterized markers bind as literals -> filter pushes to scan
    from my_polars_ai_spark.plans.inspect import pushed_filters

    pf = pushed_filters(ops["sql_parameterized_query"].fn(spark, sf_dir))
    assert any("150000" in f or "o_totalprice" in f for f in pf), pf
    s = plan_summary(ops["sql_scripting_above_avg"].fn(spark, sf_dir))
    assert s["python_evals"] == 0


def test_keyset_pagination_is_filter_plus_take_ordered(spark, sf_dir):
    """Keyset pagination must compile to a pushdown-able filter +
    TakeOrderedAndProject — the whole point vs OFFSET: no global sort,
    no produce-and-discard scan."""
    df = all_ops()["keyset_pagination_page"].fn(spark, sf_dir)
    assert plan_summary(df)["take_ordered"] >= 1
    pushed = pushed_filters(df)
    assert any("o_totalprice" in p for p in pushed), pushed


def test_session2_classic_ml_ops_stay_jvm_side(spark, sf_dir):
    """The whole classic-ML / retrieval / graph wave is pure relational
    algebra: training, scoring, matmul, hashing — zero Python
    boundaries anywhere (the applyInArrow/udf ops are the only
    sanctioned exceptions, tested elsewhere)."""
    ops = all_ops()
    for name in (
        "naive_bayes_langid",
        "decision_stump_train",
        "item_item_cf_topk",
        "pca_power_iteration_step",
        "markov_3step_purchase",
        "binary_hamming_topk",
        "image_ahash_pairs",
        "mmr_diversified_topk",
        "rrf_fusion_topk",
        "wasserstein_1d_priority",
        "theil_sen_daily_slope",
    ):
        s = plan_summary(ops[name].fn(spark, sf_dir))
        assert s["python_evals"] == 0, name


def test_session2_join_ops_have_no_cartesian_or_bnlj(spark, sf_dir):
    """The candidate-generation discipline holds structurally: none of
    the session-2 join-heavy ops compiles to a CartesianProduct or
    BroadcastNestedLoopJoin — every pair/triple/attribution join is a
    keyed equi-join (the brute cosine baseline's broadcast BNLJ is the
    sanctioned exception and lives elsewhere)."""
    ops = all_ops()
    for name in (
        "item_item_cf_topk",
        "basket_triple_support",
        "attribution_models_compare",
        "cross_clip_frame_overlap",
        "image_ahash_pairs",
        "local_clustering_coefficient",
        "degree_assortativity",
        "hits_containment_step",
    ):
        s = plan_summary(ops[name].fn(spark, sf_dir))
        assert s["nested_loop_joins"] == 0, name


def test_round6_curation_ops_plan_contracts(spark, sf_dir):
    """The three round-6 curation additions keep their claimed shapes."""
    ops = all_ops()
    # incremental dedup: banded equi-joins only — no corpus x corpus
    # nested loop anywhere, no Python
    s = plan_summary(ops["dedup_incremental_minhash"].fn(spark, sf_dir))
    assert s["nested_loop_joins"] == 0, s
    assert s["python_evals"] == 0
    # budget selection: quality histogram cumulative is the only
    # unpartitioned window (bounded); per-doc path rejoins via broadcast
    df = ops["token_budget_selection"].fn(spark, sf_dir)
    s = plan_summary(df)
    assert s["broadcast_joins"] >= 1, s
    assert s["python_evals"] == 0
    from my_polars_ai_spark.plans.inspect import explain_str

    txt = explain_str(df, mode="simple")
    assert txt.count("Exchange SinglePartition") <= 1, txt
    # DSIR: the 128-row log-ratio table broadcasts; token stream never
    # joins itself; everything JVM-side
    s = plan_summary(ops["dsir_importance_weights"].fn(spark, sf_dir))
    assert s["broadcast_joins"] + s["nested_loop_joins"] >= 2, s  # lr + totals
    assert s["sortmerge_joins"] + s["shuffled_hash_joins"] == 0, s
    assert s["python_evals"] == 0


def test_sql_declared_udf_inlines_with_no_python_boundary(spark, sf_dir):
    """The Spark-4 SQL UDF must inline into whole-stage codegen — the
    entire point vs a Python UDF is the absent Arrow/pickle boundary."""
    s = plan_summary(all_ops()["sql_udf_declared_function"].fn(spark, sf_dir))
    assert s["python_evals"] == 0, s
    s = plan_summary(all_ops()["sql_pipe_syntax"].fn(spark, sf_dir))
    assert s["python_evals"] == 0, s
    assert s["pushed_filters"] >= 1, s  # the |> WHERE reaches the scan


def test_dynamic_partition_pruning_fires_on_partitioned_fact(spark, sf_dir, tmp_path):
    """Dynamic partition pruning — the join-time sibling of static
    partition pruning: joining a date-partitioned fact against a
    selective dim must inject a dynamicpruning subquery into the fact
    scan's PartitionFilters, so at 100 TB only the dim-matched date
    directories are ever listed, without the user naming them."""
    from pyspark.sql import functions as F

    from my_polars_ai_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    e.write.mode("overwrite").partitionBy("event_date").parquet(str(tmp_path / "ev"))
    fact = spark.read.parquet(str(tmp_path / "ev"))
    dim = e.select("event_date").distinct().filter(F.dayofweek("event_date") == 2)
    j = fact.join(F.broadcast(dim), "event_date").groupBy("event_type").count()
    txt = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in txt.lower(), txt[:2000]
    # and the pruned count equals the unpruned equality-join count
    n_dpp = j.agg(F.sum("count")).collect()[0][0]
    n_plain = (
        e.join(dim.hint("broadcast"), "event_date").count()
    )
    assert n_dpp == n_plain


def test_aqe_replans_at_runtime_skew_split_and_bhj_conversion(spark):
    """The two AQE runtime re-plans PERF.md leans on at 100 TB, proven
    live: (1) with broadcast disabled, a pathologically skewed key is
    split — the executed plan carries SortMergeJoin(skew=true); (2)
    with AQE's own broadcast threshold left on, the same join converts
    to a runtime BroadcastHashJoin once the tiny build side's true size
    is known. Both markers come from the EXECUTED adaptive plan (the
    initial plan never shows them)."""
    from pyspark.sql import functions as F

    left = spark.range(500000).select(F.lit(0).alias("k"), F.rand(7).alias("v")).union(
        spark.range(2000).select((F.col("id") % 100).alias("k"), F.rand(8).alias("v"))
    )
    right = spark.range(100).select((F.col("id") % 100).alias("k"), F.col("id").alias("w"))

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = left.join(right, "k")
        j.collect()
        txt = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in txt, txt[:1500]

        # re-enable AQE's runtime broadcast: same join now converts to BHJ
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10MB")
        j2 = left.join(right, "k")
        j2.collect()
        txt2 = j2._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in txt2, txt2[:1500]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_winnowing_posting_cap_precedes_self_join(spark, sf_dir):
    """winnowing_fingerprint_overlap must cull over-frequent
    fingerprints (posting_len <= WINNOW_MAX_POSTING) with an aggregate
    BEFORE the pair self-join — without the cap one boilerplate
    fingerprint shared by M docs fans out M^2 join rows (round-6
    verdict's only scale hazard). Structurally: the optimized plan must
    contain the posting-length cap filter, and the cap must sit below
    the pair join (the filter's aggregate feeds the join input, so the
    plan cannot reorder it above)."""
    from my_polars_ai_spark.operators.text import WINNOW_MAX_POSTING
    from my_polars_ai_spark.plans.inspect import explain_str

    df = all_ops()["winnowing_fingerprint_overlap"].fn(spark, sf_dir)
    txt = explain_str(df, mode="extended")
    assert f"<= {WINNOW_MAX_POSTING}" in txt and "posting_len" in txt, (
        "posting-length cap missing from winnowing plan"
    )
    # the cap aggregate must be a child of the self-join, i.e. appear in
    # the physical plan at all (removing the keep-join would drop it:
    # Catalyst prunes unused aggregates)
    s = plan_summary(df)
    assert s["python_evals"] == 0


def test_lint_allowlist_names_are_registered_ops():
    """Every (op, kind) pair in the lint allowlist must name a real
    registry op. The per-op sweep (tests/test_registry_sweep.py, which
    replaces tools/lint_all.py) visits registered ops only, so an entry
    orphaned by a rename would never be reported stale there — only the
    renamed op would fail, as unattributed."""
    from my_polars_ai_spark.plans.lint_allowlist import ALLOWLIST

    ops = set(all_ops())
    kinds = {"bnlj", "global-window", "cartesian", "multi-smj", "python-udf"}
    bad = [(n, k) for (n, k) in ALLOWLIST if n not in ops or k not in kinds]
    assert not bad, f"allowlist entries with unknown op or kind: {bad}"


def test_package_import_does_not_load_duckdb():
    """duckdb is a ``test`` extra: plans/oracle.py imports it inside
    connect() only, so the package and its registry load without it."""
    import os
    import subprocess
    import sys

    code = (
        "import sys; import my_polars_ai_spark.plans.oracle; "
        "from my_polars_ai_spark.operators import all_ops; all_ops(); "
        "assert 'duckdb' not in sys.modules"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code], check=True, cwd=root)


def test_round7_curation_ops_plan_contracts(spark, sf_dir):
    """Scale-gate for the round-7 additions: SemDeDup's assignment is a
    narrow projection (no cartesian anywhere; pair search is a keyed
    equi-join), the hashed quality scorer is the plan floor (zero
    joins, zero exchanges beyond the scan), and the excision op keeps
    everything JVM-side."""
    ops = all_ops()
    sem = plan_summary(ops["semdedup_keep_list"].fn(spark, sf_dir))
    assert sem["python_evals"] == 0
    assert sem["nested_loop_joins"] == 0  # no cartesian/BNLJ: keyed joins only
    clf = plan_summary(ops["hashed_linear_quality_score"].fn(spark, sf_dir))
    assert clf["python_evals"] == 0
    assert clf["exchanges"] == 0  # zero-shuffle narrow map
    assert (
        clf["broadcast_joins"] + clf["sortmerge_joins"]
        + clf["shuffled_hash_joins"] + clf["nested_loop_joins"] == 0
    )
    exc = plan_summary(ops["repeated_span_excision"].fn(spark, sf_dir))
    assert exc["python_evals"] == 0
    assert exc["nested_loop_joins"] == 0
