"""Time-series derivative + completion operators rounding out the Polars
expression surface (tier D in SURVEY.md §2b): diff, pct_change, forward
fill, per-group mode, and gap filling onto a dense time grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_polars_ai_spark.operators.base import (
    RDZV_SHARDS,
    ROUND_RATIO,
    Op,
    exact_floor_div,
    make_registrar,
    oracle_ratio_round,
    oracle_signed_ratio_round,
    ratio_round,
    signed_ratio_round,
)
from my_polars_ai_spark.sources.tables import load_table as _t

OPS: dict[str, Op] = {}
op = make_registrar(OPS)

ROUND_WIN = 4


@op(
    "diff_pct_change",
    oracle=f"""
    WITH b AS (
        SELECT user_id, event_id,
               CAST(value AS DECIMAL(28,6)) AS vd,
               lag(CAST(value AS DECIMAL(28,6))) OVER w AS pv
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           CAST(round(vd - pv, {ROUND_WIN}) AS DOUBLE) AS diff,
           CASE WHEN pv = 0 THEN NULL ELSE
               CAST((CASE WHEN vd < pv THEN -1 ELSE 1 END)
                    * ((2*10000*abs(CAST((vd - pv)*1000000 AS HUGEINT))
                        + CAST(pv*1000000 AS HUGEINT))
                       // (2*CAST(pv*1000000 AS HUGEINT))) AS DOUBLE) / 10000
           END AS pct_change
    FROM b
    """,
    tags=("window", "timeseries"),
)
def diff_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polars diff()/pct_change() surface: first differences and relative
    change per user stream.

    Numerics: values go through DECIMAL(28,6) so the difference is exact,
    and pct_change is rounded with the signed integer half-away formula —
    round(double, 4) flips on half-way ties between engines (27.45625 at
    sf0.1), and a prior value of exactly 0 yields NULL (pandas-style),
    not a DIVIDE_BY_ZERO under ANSI mode (also first seen at sf0.1)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    vd = F.col("value").cast("decimal(28,6)")
    pv = F.lag(vd).over(w)
    diff_dec = vd - pv
    d_micro = (diff_dec * 1000000).cast("decimal(38,0)")
    p_micro = (pv * 1000000).cast("decimal(38,0)")
    sign = F.when(diff_dec < 0, F.lit(-1)).otherwise(F.lit(1))
    q4 = exact_floor_div(2 * 10000 * F.abs(d_micro) + p_micro, 2 * p_micro)
    pct = F.when(p_micro == 0, F.lit(None)).otherwise((sign * q4).cast("double") / 10000)
    return e.select(
        "user_id",
        "event_id",
        F.round(diff_dec, ROUND_WIN).cast("double").alias("diff"),
        pct.alias("pct_change"),
    )


@op(
    "forward_fill",
    oracle=f"""
    SELECT user_id, event_id,
           round(last_value(v_sparse IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), {ROUND_WIN}) AS v_filled
    FROM (
        SELECT user_id, event_id, ts,
               CASE WHEN event_type = 'purchase' THEN value END AS v_sparse
        FROM events
    )
    """,
    tags=("window", "null", "ffill"),
)
def forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (Polars fill_null(strategy='forward')): carry the last
    non-null observation forward per key — last(ignorenulls) over an
    ordered window, the same bounded-state pattern as the as-of join."""
    e = _t(spark, sf_dir, "events")
    sparse = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.round(F.last(sparse, ignorenulls=True).over(w), ROUND_WIN).alias("v_filled"),
    )


@op(
    "mode_per_group",
    oracle="""
    SELECT user_id, event_type AS mode_type, n
    FROM (
        SELECT user_id, event_type, count(*) AS n,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY count(*) DESC, event_type ASC) AS rn
        FROM events
        GROUP BY user_id, event_type
    ) WHERE rn = 1
    """,
    tags=("agg", "mode"),
)
def mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode (most frequent value) per key with deterministic tie-break —
    count + top-1-per-group window, no mode() builtin needed."""
    e = _t(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), "n")
    )


@op(
    "time_gapfill",
    oracle=f"""
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        FROM events
    ), grid AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
        FROM bounds
    ), agg AS (
        SELECT date_trunc('hour', ts) AS hour_start,
               count(*) AS n, round(sum(value), {ROUND_WIN}) AS sum_value
        FROM events GROUP BY 1
    )
    SELECT g.hour_start,
           coalesce(a.n, 0) AS n,
           round(coalesce(a.sum_value, 0.0), {ROUND_WIN}) AS sum_value
    FROM grid g LEFT JOIN agg a ON a.hour_start = g.hour_start
    """,
    tags=("timeseries", "gapfill"),
)
def time_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling onto a dense hourly grid (Polars upsample / date_range
    surface): sequence() builds the grid from the observed bounds — a
    1-row aggregate exploded, so the grid is generated distributed, not
    collected — then a left join pulls in the sparse aggregates."""
    e = _t(spark, sf_dir, "events")
    agg = e.groupBy(F.date_trunc("hour", "ts").alias("hour_start")).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), ROUND_WIN).alias("sum_value")
    )
    grid = (
        e.agg(
            F.date_trunc("hour", F.min("ts")).alias("lo"),
            F.date_trunc("hour", F.max("ts")).alias("hi"),
        )
        .select(
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
            ).alias("hour_start")
        )
    )
    joined = grid.join(agg, "hour_start", "left")
    return joined.select(
        "hour_start",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.round(F.coalesce("sum_value", F.lit(0.0)), ROUND_WIN).alias("sum_value"),
    )


@op(
    "interpolate_linear",
    oracle=f"""
    WITH sparse AS (
        SELECT user_id, event_id, ts,
               CASE WHEN event_type = 'purchase' THEN value END AS v
        FROM events
    ), bounded AS (
        SELECT user_id, event_id, ts, v,
               last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_prev,
               first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_next,
               last_value(CASE WHEN v IS NOT NULL THEN epoch(ts) END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t_prev,
               first_value(CASE WHEN v IS NOT NULL THEN epoch(ts) END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t_next
        FROM sparse
    )
    SELECT user_id, event_id,
           round(CASE
               WHEN v IS NOT NULL THEN v
               WHEN v_prev IS NOT NULL AND v_next IS NOT NULL AND t_next != t_prev
                   THEN v_prev + (v_next - v_prev) * (epoch(ts) - t_prev) / (t_next - t_prev)
               WHEN v_prev IS NOT NULL THEN v_prev
               ELSE v_next
           END, {ROUND_WIN}) AS v_interp
    FROM bounded
    """,
    tags=("window", "interpolate", "timeseries"),
)
def interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of a sparse series (Polars interpolate()
    surface): each gap value is reconstructed from the surrounding known
    points, time-weighted. Two bounded-state window passes (carry-last
    forward + carry-first backward) — no per-group materialization."""
    e = _t(spark, sf_dir, "events")
    sparse = e.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("v"),
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    bwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    t = F.col("ts").cast("double")
    t_known = F.when(F.col("v").isNotNull(), t)
    bounded = sparse.select(
        "user_id",
        "event_id",
        "ts",
        "v",
        F.last("v", ignorenulls=True).over(fwd).alias("v_prev"),
        F.first("v", ignorenulls=True).over(bwd).alias("v_next"),
        F.last(t_known, ignorenulls=True).over(fwd).alias("t_prev"),
        F.first(t_known, ignorenulls=True).over(bwd).alias("t_next"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("v_prev").isNotNull()
            & F.col("v_next").isNotNull()
            & (F.col("t_next") != F.col("t_prev")),
            F.col("v_prev")
            + (F.col("v_next") - F.col("v_prev"))
            * (t - F.col("t_prev"))
            / (F.col("t_next") - F.col("t_prev")),
        )
        .when(F.col("v_prev").isNotNull(), F.col("v_prev"))
        .otherwise(F.col("v_next"))
    )
    return bounded.select(
        "user_id", "event_id", F.round(interp, ROUND_WIN).alias("v_interp")
    )


@op(
    "rolling_min_max",
    oracle=f"""
    SELECT user_id, event_id,
           round(min(value) OVER w, {ROUND_WIN}) AS roll_min,
           round(max(value) OVER w, {ROUND_WIN}) AS roll_max
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "rolling"),
)
def rolling_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-row rolling min/max per user (Polars rolling_min/max)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-6, 0)
    return e.select(
        "user_id",
        "event_id",
        F.round(F.min("value").over(w), ROUND_WIN).alias("roll_min"),
        F.round(F.max("value").over(w), ROUND_WIN).alias("roll_max"),
    )


@op(
    "weighted_avg",
    oracle=f"""
    SELECT l_returnflag,
           round(sum(l_extendedprice * l_quantity) / sum(l_quantity), {ROUND_WIN})
               AS qty_weighted_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "weighted"),
)
def weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted average per group: sum(w*x)/sum(w) — one hash aggregation,
    partial-agg friendly (unlike a naive avg over pre-multiplied rows)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * F.col("l_quantity")) / F.sum("l_quantity"),
            ROUND_WIN,
        ).alias("qty_weighted_price")
    )


@op(
    "stats_extended",
    oracle=f"""
    SELECT event_type,
           CAST(count_if(value > 50.0) AS BIGINT) AS n_high,
           bool_and(value >= 0.0) AS all_nonneg,
           bool_or(value > 99.0) AS any_extreme,
           round(covar_samp(value, CAST(json_extract_string(props, '$.k') AS BIGINT)),
                 {ROUND_WIN}) AS cov_vk,
           round(arg_min(value, event_id), {ROUND_WIN}) AS first_event_value,
           round(arg_max(value, event_id), {ROUND_WIN}) AS last_event_value
    FROM events
    GROUP BY event_type
    """,
    tags=("agg", "stats"),
)
def stats_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended aggregate family: count_if, bool_and/bool_or (every/any),
    sample covariance, min_by/max_by (argmin/argmax as aggregates)."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.count_if(F.col("value") > 50.0).alias("n_high"),
        F.bool_and(F.col("value") >= 0.0).alias("all_nonneg"),
        F.bool_or(F.col("value") > 99.0).alias("any_extreme"),
        F.round(F.covar_samp("value", k), ROUND_WIN).alias("cov_vk"),
        F.round(F.min_by("value", "event_id"), ROUND_WIN).alias("first_event_value"),
        F.round(F.max_by("value", "event_id"), ROUND_WIN).alias("last_event_value"),
    )


@op(
    "hash_funcs",
    oracle="""
    SELECT doc_id,
           md5(text) AS h_md5,
           sha256(text) AS h_sha256,
           length(text) AS n_chars_computed
    FROM documents
    """,
    tags=("scalar", "hash"),
)
def hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic digest family (md5 / sha256) — portable content
    addressing for dedup and caching across engines."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("h_md5"),
        F.sha2("text", 256).alias("h_sha256"),
        F.length("text").cast("bigint").alias("n_chars_computed"),
    )


@op(
    "datetime_convert",
    oracle="""
    SELECT event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
           CAST(floor(epoch_ms(ts)) AS BIGINT) AS epoch_ms,
           strftime(ts, '%Y-%m-%d %H:%M') AS formatted,
           CAST(make_timestamp(CAST(floor(epoch(ts)) AS BIGINT) * 1000000) AS TIMESTAMP) AS roundtrip
    FROM events
    """,
    tags=("scalar", "date"),
)
def datetime_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch conversions + formatting round trip (unix_timestamp /
    date_format / timestamp_seconds family)."""
    e = _t(spark, sf_dir, "events")
    epoch_s = F.unix_timestamp("ts")
    return e.select(
        "event_id",
        epoch_s.alias("epoch_s"),
        (F.col("ts").cast("double") * 1000).cast("bigint").alias("epoch_ms"),
        F.date_format("ts", "yyyy-MM-dd HH:mm").alias("formatted"),
        F.timestamp_seconds(epoch_s).alias("roundtrip"),
    )


@op(
    "describe_stats",
    oracle=f"""
    SELECT 'count' AS stat, CAST(count(o_totalprice) AS DOUBLE) AS o_totalprice
    FROM orders
    UNION ALL SELECT 'mean',
        CAST((2*CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) * 1000000 AS HUGEINT)
              + 100*count(*)) // (200*count(*)) AS DOUBLE) / 10000
    FROM orders
    UNION ALL SELECT 'stddev', round(stddev_samp(o_totalprice), {ROUND_WIN}) FROM orders
    UNION ALL SELECT 'min', round(min(o_totalprice), {ROUND_WIN}) FROM orders
    UNION ALL SELECT '25%', round(quantile_cont(o_totalprice, 0.25), {ROUND_WIN}) FROM orders
    UNION ALL SELECT '50%', round(quantile_cont(o_totalprice, 0.5), {ROUND_WIN}) FROM orders
    UNION ALL SELECT '75%', round(quantile_cont(o_totalprice, 0.75), {ROUND_WIN}) FROM orders
    UNION ALL SELECT 'max', round(max(o_totalprice), {ROUND_WIN}) FROM orders
    """,
    tags=("agg", "stats", "describe"),
)
def describe_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas/Polars describe() surface: the 8-stat summary of a numeric
    column, computed in ONE aggregation pass (a single wide agg row,
    unpivoted with stack — not 8 scans like a naive UNION ALL). The mean
    uses the exact integer half-up formula (see timeseries.py) because
    round(double, 4) flips on half-way ties between engines."""
    o = _t(spark, sf_dir, "orders")
    s_micro = (F.sum(F.col("o_totalprice").cast("decimal(28,6)")) * 1000000).cast(
        "decimal(38,0)"
    )
    n = F.count(F.lit(1))
    mean4 = exact_floor_div(2 * s_micro + 100 * n, 200 * n).cast("double") / 10000
    pcts = F.percentile("o_totalprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    wide = o.agg(
        F.count("o_totalprice").cast("double").alias("s_count"),
        mean4.alias("s_mean"),
        F.round(F.stddev_samp("o_totalprice"), ROUND_WIN).alias("s_stddev"),
        F.round(F.min("o_totalprice"), ROUND_WIN).alias("s_min"),
        F.round(F.element_at(pcts, 1), ROUND_WIN).alias("s_p25"),
        F.round(F.element_at(pcts, 2), ROUND_WIN).alias("s_p50"),
        F.round(F.element_at(pcts, 3), ROUND_WIN).alias("s_p75"),
        F.round(F.max("o_totalprice"), ROUND_WIN).alias("s_max"),
    )
    stack = (
        "stack(8, 'count', s_count, 'mean', s_mean, 'stddev', s_stddev, 'min', s_min, "
        "'25%', s_p25, '50%', s_p50, '75%', s_p75, 'max', s_max) AS (stat, o_totalprice)"
    )
    return wide.select(F.expr(stack))


@op(
    "key_skew_profile",
    oracle="""
    WITH counts AS (
        SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n FROM lineitem GROUP BY 1
    ), tot AS (
        SELECT sum(n) AS total, CAST(count(*) AS BIGINT) AS n_keys FROM counts
    )
    SELECT l_suppkey, n,
           CAST((2*1000000*CAST(n AS HUGEINT) + CAST(total AS HUGEINT))
                // (2*CAST(total AS HUGEINT)) AS DOUBLE) / 1000000 AS share,
           n_keys
    FROM counts CROSS JOIN tot
    ORDER BY n DESC, l_suppkey
    LIMIT 20
    """,
    tags=("profiling", "skew", "topk"),
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter diagnostic for join/agg keys: top-20 keys by row
    count with their share of the table and the total key cardinality —
    the measurement you take BEFORE choosing salting / AQE skew handling
    (join_salted_skew is the companion treatment). One partial-agg
    group-by, a 1-row broadcast total, and TakeOrderedAndProject for the
    top-20 — no global sort. Shares use exact integer half-up rounding
    (base.ratio_round) so the hash matches across engines."""
    from my_polars_ai_spark.operators.base import ratio_round

    li = _t(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    return (
        counts.crossJoin(tot)
        .select(
            "l_suppkey",
            "n",
            ratio_round(F.col("n"), F.col("total")).alias("share"),
            "n_keys",
        )
        .orderBy(F.desc("n"), F.asc("l_suppkey"))
        .limit(20)
    )


@op(
    "anomaly_mad",
    oracle=f"""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY 1
    ), mad AS (
        SELECT e.event_type, m.med,
               quantile_cont(abs(e.value - m.med), 0.5) AS mad
        FROM events e JOIN med m USING (event_type)
        GROUP BY 1, 2
    )
    SELECT e.event_id, e.event_type,
           round(e.value, {ROUND_RATIO}) AS value_r,
           round(m.med, {ROUND_RATIO}) AS med,
           round(m.mad, {ROUND_RATIO}) AS mad
    FROM events e JOIN mad m USING (event_type)
    WHERE abs(e.value - m.med) > 3 * m.mad
    """,
    tags=("quality", "anomaly", "stats"),
)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: flag events whose value deviates from
    the per-type median by more than 3x the median absolute deviation
    (MAD) — the standard robust alternative to z-scores (unbounded
    breakdown point of mean/std under the very outliers being hunted).
    Two grouped exact percentiles (per-type groups are few and bounded,
    so percentile buffering is safe; the global-percentile caveat in
    PERF.md does not apply), stats broadcast back onto the rows, flag is
    a narrow filter. The un-rounded flag comparison is engine-portable
    because both engines interpolate medians identically (evidenced by
    the driver-green median_quantiles op)."""
    e = _t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    mad = (
        e.join(med, "event_type")
        .groupBy("event_type", "med")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
    )
    return (
        e.join(mad, "event_type")
        .filter(F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"))
        .select(
            "event_id",
            "event_type",
            F.round("value", ROUND_RATIO).alias("value_r"),
            F.round("med", ROUND_RATIO).alias("med"),
            F.round("mad", ROUND_RATIO).alias("mad"),
        )
    )


@op(
    "merge_upsert",
    oracle="""
    WITH updates AS (
        SELECT c_custkey,
               round(c_acctbal + 100.0, 2) AS c_acctbal,
               'updated' AS row_status
        FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT b.c_custkey,
           b.c_name,
           round(coalesce(u.c_acctbal, b.c_acctbal), 2) AS c_acctbal,
           coalesce(u.row_status, 'unchanged') AS row_status
    FROM customer b
    LEFT JOIN updates u USING (c_custkey)
    """,
    tags=("merge", "upsert", "sink"),
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed upsert (MERGE INTO semantics without a table format): update
    rows override base rows on the key, everything else passes through
    with provenance. The updates side here is derived deterministically
    from the corpus (every 10th customer gets +100 balance) so the merge
    is oracle-checkable; in production it is yesterday's snapshot vs
    today's changes. Shape: one left join on the merge key — broadcast
    when changes are small (the common case), sort-merge on the shuffled
    key when both sides are fact-sized; no driver-side diffing."""
    c = _t(spark, sf_dir, "customer")
    updates = (
        c.filter(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey",
            F.round(F.col("c_acctbal") + 100.0, 2).alias("u_acctbal"),
            F.lit("updated").alias("u_status"),
        )
    )
    return (
        c.join(updates, "c_custkey", "left")
        .select(
            "c_custkey",
            "c_name",
            F.round(F.coalesce("u_acctbal", "c_acctbal"), 2).alias("c_acctbal"),
            F.coalesce("u_status", F.lit("unchanged")).alias("row_status"),
        )
    )


@op(
    "python_datasource_scan",
    oracle="""
    WITH g AS (
        SELECT unnest(range(0, 1000)) AS row_id
    ), rows_ AS (
        SELECT row_id,
               'k' || CAST(row_id % 7 AS VARCHAR) AS key,
               ('0x' || substr(md5('seed:' || CAST(row_id AS VARCHAR)), 1, 15))::BIGINT
                   AS h60
        FROM g
    )
    SELECT key,
           CAST(count(*) AS BIGINT) AS n,
           min(h60) AS min_h,
           max(h60) AS max_h,
           CAST(sum(h60 % 1000000) AS BIGINT) AS sum_mod
    FROM rows_
    GROUP BY key
    """,
    tags=("source", "python-datasource", "agg"),
)
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan through a custom Python DataSource (Spark 4
    pyspark.sql.datasource API, sources/python_datasource.py) and
    aggregate — the connector case the file readers don't cover. The
    planner fans read() out one task per partitions() slice (8 here), so
    the same class shape wraps REST cursors / offset ranges at cluster
    parallelism. The generated payload is md5-deterministic, so even
    this Python-connector scan is oracle-checked: DuckDB re-derives the
    identical rows from generate_series. (sf_dir is unused — the source
    IS the data.)"""
    from my_polars_ai_spark.sources.python_datasource import register_synth_source

    register_synth_source(spark)
    df = spark.read.format("synth").option("rows", 1000).option("slices", 8).load()
    return df.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("h60").alias("min_h"),
        F.max("h60").alias("max_h"),
        F.sum(F.col("h60") % 1000000).alias("sum_mod"),
    )


# Bloom filter geometry: m bits in w 64-bit words, k md5-derived hashes.
BLOOM_BITS = 4096
BLOOM_WORDS = -(-BLOOM_BITS // 63)  # 63-bit words: bit 63 would overflow DuckDB's checked BIGINT shift
BLOOM_K = 3


@op(
    "bloom_filter_semi_join",
    oracle=f"""
    WITH keys AS (
        SELECT DISTINCT p_partkey AS key FROM part WHERE p_type = 'PROMO'
    ), bits AS (
        SELECT DISTINCT
               (('0x' || substr(md5(h.i || ':' || CAST(key AS VARCHAR)), 1, 15))::BIGINT
                % {BLOOM_BITS}) AS bitpos
        FROM keys CROSS JOIN (SELECT unnest(range({BLOOM_K})) AS i) h
    ), bitmap AS (
        SELECT bitpos // 63 AS word, bit_or(1::BIGINT << (bitpos % 63)) AS bits
        FROM bits GROUP BY 1
    ), probe AS (
        SELECT pk.l_partkey,
               (('0x' || substr(md5(h.i || ':' || CAST(pk.l_partkey AS VARCHAR)), 1, 15))::BIGINT
                % {BLOOM_BITS}) AS bitpos
        FROM (SELECT DISTINCT l_partkey FROM lineitem) pk
        CROSS JOIN (SELECT unnest(range({BLOOM_K})) AS i) h
    ), hits AS (
        SELECT p.l_partkey,
               count(*) FILTER (b.bits IS NOT NULL
                                AND (b.bits >> (p.bitpos % 63)) % 2 != 0) AS n_set
        FROM probe p
        LEFT JOIN bitmap b ON b.word = p.bitpos // 63
        GROUP BY p.l_partkey
    ), passed AS (
        SELECT l_partkey FROM hits WHERE n_set = {BLOOM_K}
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_probed,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem
            WHERE l_partkey IN (SELECT l_partkey FROM passed)) AS n_bloom_pass,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem
            WHERE l_partkey IN (SELECT key FROM keys)) AS n_true,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem
            WHERE l_partkey IN (SELECT l_partkey FROM passed)) -
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem
            WHERE l_partkey IN (SELECT key FROM keys)) AS n_false_pos
    """,
    tags=("filter", "bloom", "scale-pattern"),
)
def bloom_filter_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-join pruning — the runtime-filter pattern behind
    every modern engine's dynamic semi-join pushdown (Spark's own
    spark.sql.optimizer.runtimeFilter.*): build a {BLOOM_BITS}-bit
    filter over the (small) build-side key set, broadcast ~32 words
    instead of the key list, and drop probe rows whose k bit tests miss
    BEFORE the real join. md5-derived hash positions make the whole
    construction deterministic, so the filter, its false-positive
    count, and the exact semi-join are all oracle-checked as integers.
    The bitmap is a 64-row aggregate (bit_or per word); probes check
    bits via a broadcast join on the word index — no driver-side
    bitset, same plan at any build-side size."""
    from my_polars_ai_spark.operators.dedup import portable_hash60

    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    keys = p.select(F.col("p_partkey").alias("key")).distinct()
    idx = F.explode(F.array(*[F.lit(i) for i in range(BLOOM_K)])).alias("i")
    bitpos = (
        portable_hash60(F.concat(F.col("i").cast("string"), F.lit(":"), F.col("key").cast("string")))
        % BLOOM_BITS
    ).alias("bitpos")
    bits = keys.select("key", idx).select(bitpos).distinct()
    bitmap = bits.groupBy((F.col("bitpos") / 63).cast("bigint").alias("word")).agg(
        # PySpark's shiftleft() helper takes only a literal bit count;
        # the SQL function accepts a column
        F.bit_or(F.expr("shiftleft(1L, cast(bitpos % 63 as int))")).alias("bits")
    )
    li = _t(spark, sf_dir, "lineitem")
    probe = li.select("l_partkey").distinct().select(
        "l_partkey",
        F.explode(
            F.array(
                *[
                    portable_hash60(
                        F.concat(F.lit(f"{i}:"), F.col("l_partkey").cast("string"))
                    )
                    % BLOOM_BITS
                    for i in range(BLOOM_K)
                ]
            )
        ).alias("bitpos"),
    )
    hits = (
        probe.join(
            bitmap,
            (F.col("bitpos") / 63).cast("bigint") == F.col("word"),
            "left",
        )
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.when(
                    F.col("bits").isNotNull()
                    & (
                        F.expr("shiftright(bits, cast(bitpos % 63 as int))") % 2
                        != 0
                    ),
                    1,
                ).otherwise(0)
            ).alias("n_set")
        )
    )
    passed = hits.filter(F.col("n_set") == BLOOM_K).select("l_partkey")
    n_probed = li.agg(F.count(F.lit(1)).alias("n_probed"))
    n_pass = (
        li.join(passed, "l_partkey", "leftsemi")
        .agg(F.count(F.lit(1)).alias("n_bloom_pass"))
    )
    n_true = (
        _t(spark, sf_dir, "lineitem")
        .join(keys, F.col("l_partkey") == F.col("key"), "leftsemi")
        .agg(F.count(F.lit(1)).alias("n_true"))
    )
    return (
        n_probed.crossJoin(n_pass)
        .crossJoin(n_true)
        .select(
            "n_probed",
            "n_bloom_pass",
            "n_true",
            (F.col("n_bloom_pass") - F.col("n_true")).alias("n_false_pos"),
        )
    )


LC_BITS = 4096  # linear-counting bitmap size


@op(
    "linear_counting_distinct",
    oracle=f"""
    WITH lp AS (
        SELECT count(DISTINCT (('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT
                               % {LC_BITS})) AS n_set,
               count(DISTINCT l_partkey) AS n_true
        FROM lineitem
    ), oc AS (
        SELECT count(DISTINCT (('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
                               % {LC_BITS})) AS n_set,
               count(DISTINCT o_custkey) AS n_true
        FROM orders
    )
    SELECT 'l_partkey' AS col_name, CAST(n_true AS BIGINT) AS n_true,
           CAST(n_set AS BIGINT) AS n_bits_set,
           round({LC_BITS} * ln({LC_BITS} * 1.0 / ({LC_BITS} - n_set)), 2) AS lc_estimate
    FROM lp
    UNION ALL
    SELECT 'o_custkey', CAST(n_true AS BIGINT), CAST(n_set AS BIGINT),
           round({LC_BITS} * ln({LC_BITS} * 1.0 / ({LC_BITS} - n_set)), 2)
    FROM oc
    """,
    tags=("sketch", "distinct", "scale-pattern"),
)
def linear_counting_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count sketching via linear counting — the oracle-checkable
    member of the approximate-distinct family (approx_distinct's HLL has
    no cross-engine twin, so it stays rows-only; this one is exact on
    both engines because the md5 bitmap is deterministic). Each key sets
    bit md5(key) % m; the estimator is m*ln(m/unset). The aggregation
    state is a count of DISTINCT bit positions <= m — constant-bounded
    per group, the same reason sketches beat exact count-distinct at
    100 TB (no shuffle of the full key set; partial aggregation
    applies)."""
    from my_polars_ai_spark.operators.dedup import portable_hash60

    def one(table: str, key: str) -> DataFrame:
        t = _t(spark, sf_dir, table)
        agg = t.agg(
            F.count_distinct(portable_hash60(F.col(key).cast("string")) % LC_BITS).alias("n_set"),
            F.count_distinct(F.col(key)).alias("n_true"),
        )
        est = F.round(
            LC_BITS * F.log(LC_BITS * F.lit(1.0) / (LC_BITS - F.col("n_set"))), 2
        )
        return agg.select(
            F.lit(key).alias("col_name"),
            F.col("n_true"),
            F.col("n_set").alias("n_bits_set"),
            est.alias("lc_estimate"),
        )

    return one("lineitem", "l_partkey").unionAll(one("orders", "o_custkey"))


@op(
    "merge_partial_aggs",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(min(l_quantity) AS BIGINT) AS min_qty,
           CAST(max(l_quantity) AS BIGINT) AS max_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "incremental", "scale-pattern"),
)
def merge_partial_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-aggregate merging — the algebraic contract behind
    map-side combine, incremental rollup maintenance, and cube
    materialization: split the fact table into independent slices,
    aggregate each slice separately (in production: yesterday's
    materialized rollup + today's delta), then MERGE the partials
    (counts/sums add, mins/maxes fold) instead of rescanning the base.
    The oracle states the direct one-pass aggregate, so the compare
    proves merge(partials) == aggregate(whole) exactly — which is what
    licenses Spark to partial-aggregate before every exchange. Sums in
    exact integers (l_quantity is integral), so the equality is
    bit-level."""
    li = _t(spark, sf_dir, "lineitem")
    # two disjoint slices standing in for base + delta
    half_a = li.filter(F.col("l_orderkey") % 2 == 0)
    half_b = li.filter(F.col("l_orderkey") % 2 == 1)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.min(F.col("l_quantity").cast("bigint")).alias("min_qty"),
            F.max(F.col("l_quantity").cast("bigint")).alias("max_qty"),
        )

    return (
        partial(half_a)
        .unionByName(partial(half_b))
        .groupBy("l_returnflag")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_qty").alias("sum_qty"),
            F.min("min_qty").alias("min_qty"),
            F.max("max_qty").alias("max_qty"),
        )
    )


@op(
    "scd2_history",
    oracle="""
    WITH ordered AS (
        SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
               lag(o_orderstatus) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS prev_status
        FROM orders
    ), changes AS (
        SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate
        FROM ordered
        WHERE prev_status IS NULL OR prev_status != o_orderstatus
    )
    SELECT o_custkey,
           row_number() OVER w AS version,
           o_orderstatus AS status,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER w AS valid_to,
           (lead(o_orderdate) OVER w IS NULL) AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("window", "merge", "history"),
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 builder: collapse a keyed change
    stream (per-customer order-status transitions) into versioned
    validity intervals — valid_from / valid_to / is_current — the
    history table every warehouse dimension load maintains. Two keyed
    windows over the SAME partitioning (custkey), so Catalyst plans one
    sort+shuffle and reuses it for the change-detect lag, the version
    row_number, and the interval-closing lead. No self-joins, no
    driver-side diffing; state per key is a single previous row."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = (
        o.select(
            "o_custkey", "o_orderkey", "o_orderstatus", "o_orderdate",
            F.lag("o_orderstatus").over(w).alias("prev_status"),
        )
        .filter(
            F.col("prev_status").isNull()
            | (F.col("prev_status") != F.col("o_orderstatus"))
        )
    )
    return changes.select(
        "o_custkey",
        F.row_number().over(w).cast("long").alias("version"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
        F.lead("o_orderdate").over(w).isNull().alias("is_current"),
    )


def _labeled_count(df: DataFrame, alias: str, **labels: str) -> DataFrame:
    """Collapse a DataFrame to ONE row: a bigint count named ``alias``
    prefixed by constant label columns — the shared scaffolding of the
    audit-report ops (dq_audit, cascade_delete_audit)."""
    agg = df.agg(F.count(F.lit(1)).cast("long").alias(alias))
    return agg.select(
        *[F.lit(v).alias(k) for k, v in labels.items()], alias
    )


@op(
    "dq_audit",
    oracle="""
    SELECT 'orders' AS table_name, 'orphan_custkey' AS check_name,
           CAST(count(*) AS BIGINT) AS n_bad
    FROM orders o WHERE NOT EXISTS (
        SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem', 'orphan_orderkey', CAST(count(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem', 'orphan_partkey', CAST(count(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS (
        SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    UNION ALL
    SELECT 'lineitem', 'orphan_suppkey', CAST(count(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS (
        SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
    UNION ALL
    SELECT 'customer', 'dup_custkey', CAST(count(*) AS BIGINT) FROM (
        SELECT c_custkey FROM customer GROUP BY 1 HAVING count(*) > 1)
    UNION ALL
    SELECT 'orders', 'dup_orderkey', CAST(count(*) AS BIGINT) FROM (
        SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
    UNION ALL
    SELECT 'orders', 'nonpositive_totalprice', CAST(count(*) AS BIGINT)
    FROM orders WHERE o_totalprice <= 0
    UNION ALL
    SELECT 'lineitem', 'discount_out_of_range', CAST(count(*) AS BIGINT)
    FROM lineitem WHERE l_discount < 0 OR l_discount > 1
    UNION ALL
    SELECT 'documents', 'empty_text', CAST(count(*) AS BIGINT)
    FROM documents WHERE text IS NULL OR length(text) = 0
    UNION ALL
    SELECT 'events', 'null_user_id', CAST(count(*) AS BIGINT)
    FROM events WHERE user_id IS NULL
    """,
    tags=("audit", "quality", "join"),
)
def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table data-quality audit — the pre-flight gate a pipeline
    runs before promoting a snapshot: referential integrity (orphan
    foreign keys via LEFT ANTI joins, dimension side broadcast), key
    uniqueness (group-having on the candidate key), and domain checks
    (price positivity, discount range, empty documents, null actors).
    Every check collapses to ONE bigint before the union, so the result
    is a ~10-row metric table regardless of fact size; the fact scans
    are narrow (key columns only) and each check is an independent
    subtree Spark can schedule concurrently."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "events")

    def metric(df: DataFrame, table: str, check: str) -> DataFrame:
        return _labeled_count(df, "n_bad", table_name=table, check_name=check)

    checks = [
        metric(
            o.join(c.select("c_custkey"),
                   o.o_custkey == c.c_custkey, "left_anti"),
            "orders", "orphan_custkey"),
        metric(
            li.join(o.select("o_orderkey"),
                    li.l_orderkey == o.o_orderkey, "left_anti"),
            "lineitem", "orphan_orderkey"),
        metric(
            li.join(p.select("p_partkey"),
                    li.l_partkey == p.p_partkey, "left_anti"),
            "lineitem", "orphan_partkey"),
        metric(
            li.join(s.select("s_suppkey"),
                    li.l_suppkey == s.s_suppkey, "left_anti"),
            "lineitem", "orphan_suppkey"),
        metric(
            c.groupBy("c_custkey").agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1),
            "customer", "dup_custkey"),
        metric(
            o.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1),
            "orders", "dup_orderkey"),
        metric(o.filter(F.col("o_totalprice") <= 0),
               "orders", "nonpositive_totalprice"),
        metric(li.filter((F.col("l_discount") < 0) | (F.col("l_discount") > 1)),
               "lineitem", "discount_out_of_range"),
        metric(d.filter(F.col("text").isNull() | (F.length("text") == 0)),
               "documents", "empty_text"),
        metric(e.filter(F.col("user_id").isNull()),
               "events", "null_user_id"),
    ]
    out = checks[0]
    for chk in checks[1:]:
        out = out.unionByName(chk)
    return out


@op(
    "pareto_frontier_suppliers",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey,
               CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                  AS DECIMAL(28,6))) * 1000000 AS HUGEINT)
                    AS BIGINT) AS revenue_micro,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
        FROM lineitem GROUP BY 1
    )
    SELECT r.l_suppkey, r.revenue_micro, r.n_parts
    FROM rev r
    WHERE NOT EXISTS (
        SELECT 1 FROM rev y
        WHERE y.revenue_micro >= r.revenue_micro
          AND y.n_parts >= r.n_parts
          AND (y.revenue_micro > r.revenue_micro OR y.n_parts > r.n_parts)
    )
    """,
    tags=("window", "skyline", "agg"),
)
def pareto_frontier_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline): suppliers not dominated on
    (total revenue, distinct parts carried) — the 'best tradeoff set'
    query behind vendor scoring and multi-objective ranking. The oracle
    states the O(n^2) NOT-EXISTS semantics; the Spark plan is the
    O(n log n) sort-based formulation, made scale-safe by the classic
    frontier-merge identity frontier(S) = frontier(union of per-slice
    frontiers): a first pass computes local skylines per hash slice
    (keyed windows, fully parallel), a second pass runs the same two
    windows over the (tiny) union of survivors. Dominance uses a
    strictly-greater-revenue cummax plus an equal-revenue group max, so
    duplicate points (equal on both dims) are correctly both kept.
    Revenue aggregates in exact DECIMAL micro-units -> bigint, making
    the frontier hash-comparable across engines."""
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        (F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
               .cast("decimal(28,6)")) * 1000000)
        .cast("decimal(38,0)").cast("long").alias("revenue_micro"),
        F.count_distinct("l_partkey").alias("n_parts"),
    )

    def skyline(df: DataFrame, *part_cols: str) -> DataFrame:
        w_gt = (
            Window.partitionBy(*part_cols)
            .orderBy(F.desc("revenue_micro"))
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        w_eq = Window.partitionBy(*part_cols, "revenue_micro")
        best_gt = F.max("n_parts").over(w_gt)
        best_eq = F.max("n_parts").over(w_eq)
        dominated = (
            (best_gt.isNotNull() & (best_gt >= F.col("n_parts")))
            | (best_eq > F.col("n_parts"))
        )
        return df.withColumn("__dom", dominated).filter(~F.col("__dom")).drop("__dom")

    local = skyline(
        rev.withColumn("__slice", F.crc32(F.col("l_suppkey").cast("string")) % 16),
        "__slice",
    ).drop("__slice")
    return skyline(local).select("l_suppkey", "revenue_micro", "n_parts")


@op(
    "snapshot_diff",
    oracle="""
    WITH old AS (
        SELECT c_custkey, round(c_acctbal, 2) AS bal FROM customer
    ), new AS (
        SELECT c_custkey,
               round(CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 50.0
                          ELSE c_acctbal END, 2) AS bal
        FROM customer WHERE c_custkey % 11 != 0
        UNION ALL
        SELECT c_custkey + 10000000, round(c_acctbal, 2)
        FROM customer WHERE c_custkey % 13 = 0
    )
    SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN o.c_custkey IS NULL THEN 'added'
                WHEN n.c_custkey IS NULL THEN 'removed'
                WHEN o.bal != n.bal THEN 'changed'
                ELSE 'unchanged' END AS diff_status,
           o.bal AS old_bal,
           n.bal AS new_bal
    FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
    """,
    tags=("join", "cdc", "diff"),
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot CDC diff: classify every key across two
    table versions as added / removed / changed / unchanged — the
    change-data-capture pass that feeds incremental downstream loads
    (and the read-side complement of `merge_upsert`). The 'new'
    snapshot is derived deterministically from the corpus (every 7th
    balance bumped, every 11th key dropped, every 13th re-keyed as an
    insert) so the diff is oracle-checkable. Shape: ONE full outer join
    on the key — hash-partitioned both sides, AQE handles skew; the
    classification is a narrow projection on the join output."""
    c = _t(spark, sf_dir, "customer")
    old = c.select("c_custkey", F.round("c_acctbal", 2).alias("bal"))
    new = (
        c.filter(F.col("c_custkey") % 11 != 0)
        .select(
            "c_custkey",
            F.round(
                F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 50.0)
                .otherwise(F.col("c_acctbal")),
                2,
            ).alias("bal"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + 10000000).alias("c_custkey"),
                F.round("c_acctbal", 2).alias("bal"),
            )
        )
    )
    o = old.alias("o")
    n = new.alias("n")
    joined = o.join(n, F.col("o.c_custkey") == F.col("n.c_custkey"), "full_outer")
    return joined.select(
        F.coalesce(F.col("o.c_custkey"), F.col("n.c_custkey")).alias("c_custkey"),
        F.when(F.col("o.c_custkey").isNull(), "added")
        .when(F.col("n.c_custkey").isNull(), "removed")
        .when(F.col("o.bal") != F.col("n.bal"), "changed")
        .otherwise("unchanged")
        .alias("diff_status"),
        F.col("o.bal").alias("old_bal"),
        F.col("n.bal").alias("new_bal"),
    )


def _zorder_interleave_sql(a: str, b: str, intdiv: str) -> str:
    """Portable 16+16-bit Morton interleave as pure arithmetic (no
    engine-specific bit operators): bit i of ``a`` lands at position 2i,
    bit i of ``b`` at 2i+1. Generated once and rendered with each
    engine's integer-division operator so Spark and DuckDB evaluate the
    IDENTICAL formula."""
    terms = []
    for i in range(16):
        terms.append(f"(({a} {intdiv} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({b} {intdiv} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


@op(
    "zorder_key",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey,
               o_custkey % 65536 AS ckey,
               (CAST(o_orderdate AS DATE) - DATE '1990-01-01') % 65536 AS dayn
        FROM orders
    )
    SELECT o_orderkey, CAST(ckey AS BIGINT) AS ckey, CAST(dayn AS BIGINT) AS dayn,
           CAST({_zorder_interleave_sql('ckey', 'dayn', '//')} AS BIGINT) AS zkey
    FROM base
    """,
    tags=("layout", "sort", "scan"),
)
def zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (customer, order day) — the
    multi-dimensional data-layout primitive: writing files sorted by
    zkey (repartitionByRange(zkey) + sortWithinPartitions) gives
    parquet min/max zone maps locality in BOTH dimensions, so filters
    on either customer OR date ranges skip files, where a plain sort
    only skips on its leading column. The interleave is pure integer
    arithmetic generated from one shared formula, so the key itself is
    oracle-checked bit-for-bit. The projection is narrow and
    stateless — at 100 TB this is a zero-shuffle map ahead of the
    layout write."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 65536).cast("long").alias("ckey"),
        (
            F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date"))
            % 65536
        ).cast("long").alias("dayn"),
    )
    return base.select(
        "o_orderkey",
        "ckey",
        "dayn",
        F.expr(_zorder_interleave_sql("ckey", "dayn", "DIV")).cast("long").alias("zkey"),
    )


@op(
    "array_agg_topk",
    oracle="""
    WITH o AS (
        SELECT o_custkey, o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100 AS BIGINT) AS cents
        FROM orders
    )
    SELECT o_custkey,
           array_to_string((list(o_orderkey ORDER BY cents DESC, o_orderkey))[1:3], ',') AS top_orders
    FROM o GROUP BY o_custkey
    """,
    tags=("agg", "array", "nested"),
)
def array_agg_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted, capped array aggregation: each customer's top-3 order
    keys by price, surfaced as a ','-joined string (the driver's
    pandas canonicalizer cannot factorize list columns) — internally
    the nested-result shape feature
    stores and API backends ask for (one row per entity, ranked list
    inside). Per-group state is the collected group (bounded by orders
    per customer); for unbounded groups the scale path is the
    window-rank + collect of survivors (`window_topk_per_group`)
    feeding the same array_agg. Price converts to exact integer cents
    so the ORDER inside the array — and therefore the array value
    itself — is engine-portable, with orderkey as the total tiebreak."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(28,6)") * 100)
        .cast("decimal(38,0)").cast("long").alias("cents"),
    )
    # sort key: descending cents, ascending orderkey — encoded so one
    # ascending sort_array gives the right order
    item = F.struct((-F.col("cents")).alias("neg"), F.col("o_orderkey").alias("k"))
    return (
        o.groupBy("o_custkey")
        .agg(F.collect_list(item).alias("items"))
        .select(
            "o_custkey",
            F.array_join(
                F.transform(
                    F.slice(F.sort_array("items"), 1, 3),
                    lambda s: s["k"].cast("string"),
                ),
                ",",
            ).alias("top_orders"),
        )
    )


# Compaction target size (in the corpus's n_chars units).
COMPACTION_TARGET = 2000


@op(
    "compaction_plan",
    oracle=f"""
    WITH f AS (
        SELECT source, doc_id, n_chars,
               coalesce(sum(n_chars) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS prefix
        FROM documents
    ), planned AS (
        SELECT source, doc_id, n_chars, prefix // {COMPACTION_TARGET} AS bin_id
        FROM f
    )
    SELECT source, CAST(bin_id AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(n_chars) AS BIGINT) AS bin_bytes
    FROM planned GROUP BY source, bin_id
    """,
    tags=("layout", "window", "maintenance"),
)
def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the lakehouse maintenance pass
    that bins many small files into ~target-size outputs: an exclusive
    prefix sum of file sizes per source (one keyed window), integer-
    divided by the target, assigns every file a deterministic output
    bin; the summary is the rewrite plan (which bins, how many inputs,
    how many bytes). The same two-step — prefix-sum then div — is how
    you'd drive a real `repartitionByRange(bin_id)` rewrite. All
    integer arithmetic; output bounded by total-bytes/target."""
    d = _t(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = d.select(
        "source",
        "doc_id",
        "n_chars",
        exact_floor_div(
            F.coalesce(F.sum("n_chars").over(w), F.lit(0)),
            F.lit(COMPACTION_TARGET),
        ).cast("long").alias("bin_id"),
    )
    return planned.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_chars").cast("long").alias("bin_bytes"),
    )


def _log2_bucket_sql(col: str, max_pow: int = 25) -> str:
    """Portable exact log2 bucketing of a non-negative integer: the
    largest b with 2^b <= x (x=0 -> -1), as a generated CASE ladder both
    engines evaluate identically — no transcendental log, no rounding
    seam."""
    branches = [f"WHEN {col} < 1 THEN -1"]
    for b in range(max_pow):
        branches.append(f"WHEN {col} < {1 << (b + 1)} THEN {b}")
    return "CASE " + " ".join(branches) + f" ELSE {max_pow} END"


@op(
    "interevent_time_hist",
    oracle=f"""
    WITH g AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS gap_us
        FROM events
    ), b AS (
        SELECT ({_log2_bucket_sql('(gap_us // 1000000)')}) AS bucket_pow
        FROM g WHERE gap_us IS NOT NULL
    )
    SELECT CAST(bucket_pow AS INTEGER) AS bucket_pow,
           CAST(count(*) AS BIGINT) AS n_gaps
    FROM b GROUP BY bucket_pow
    """,
    tags=("timeseries", "histogram", "window"),
)
def interevent_time_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed inter-event-time histogram — the latency/activity-
    cadence distribution (sub-second, seconds, minutes, hours bands)
    behind session-timeout tuning and bot detection. Gap = microsecond
    delta to the user's previous event (one keyed window), bucket =
    exact integer log2 of whole seconds via a generated comparison
    ladder shared verbatim with the oracle — a histogram over a
    logarithm with zero float risk. Output bounded by ~26 buckets."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    bucket = F.expr(_log2_bucket_sql("(gap_us DIV 1000000)")).cast("int")
    return (
        g.select(bucket.alias("bucket_pow"))
        .groupBy("bucket_pow")
        .agg(F.count(F.lit(1)).alias("n_gaps"))
    )


@op(
    "benford_first_digit",
    oracle=f"""
    WITH d AS (
        SELECT substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100
                                AS HUGEINT) AS VARCHAR), 1, 1) AS digit
        FROM orders
    ), tot AS (
        SELECT count(*) AS n FROM d
    )
    SELECT digit, CAST(count(*) AS BIGINT) AS n_orders,
           {oracle_ratio_round('count(*)', 'any_value(tot.n)')} AS share
    FROM d CROSS JOIN tot
    GROUP BY digit
    """,
    tags=("audit", "quality", "agg"),
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit distribution of order
    totals — the classic fraud/synthetic-data screen (organic amounts
    lean heavily on digit 1; fabricated ones don't). Amounts convert to
    exact integer cents first so 'first digit' is string-exact, not a
    float-format artifact. One narrow map + a 9-bucket aggregate; the
    total rides a 1-row broadcast for the share ratio."""
    o = _t(spark, sf_dir, "orders")
    cents = (
        (F.col("o_totalprice").cast("decimal(28,6)") * 100)
        .cast("decimal(38,0)")
    )
    d = o.select(F.substring(cents.cast("string"), 1, 1).alias("digit"))
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    return (
        d.crossJoin(tot)
        .groupBy("digit")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            ratio_round(F.count(F.lit(1)), F.any_value("n")).alias("share"),
        )
    )


@op(
    "wow_revenue_change",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100
                             AS HUGEINT)) AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1
    )
    SELECT cur.day, cur.rev_cents,
           prev.rev_cents AS prev_rev_cents,
           CASE WHEN prev.rev_cents IS NULL THEN NULL ELSE
               CAST((CASE WHEN cur.rev_cents < prev.rev_cents THEN -1 ELSE 1 END)
                    * ((2*{10**ROUND_RATIO}*abs(CAST(cur.rev_cents AS HUGEINT)
                                                - prev.rev_cents)
                        + prev.rev_cents) // (2*CAST(prev.rev_cents AS HUGEINT)))
                    AS DOUBLE) / {10**ROUND_RATIO}
           END AS wow_pct
    FROM daily cur
    LEFT JOIN daily prev ON prev.day = cur.day - 7
    """,
    tags=("timeseries", "join", "report"),
)
def wow_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue change per day — the calendar-aligned
    comparison every reporting layer ships: today vs the SAME WEEKDAY
    last week (a self-join on day-7, NOT lag(7) over observed rows,
    which silently misaligns across gaps). The daily rollup aggregates
    once and joins against itself; at 100 TB the rollup output is
    calendar-bounded, so the self-join is trivially broadcast. Revenue
    in exact cents; the percent change uses the shared sign-split
    half-up integer rational."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.to_date(F.date_trunc("day", "o_orderdate")).alias("day")
    ).agg(
        F.sum((F.col("o_totalprice").cast("decimal(28,6)") * 100)
              .cast("decimal(38,0)"))
        .cast("long").alias("rev_cents")
    )
    from my_polars_ai_spark.operators.base import signed_ratio_round

    cur = daily.alias("cur")
    prev = daily.alias("prev")
    cur_c = F.col("cur.rev_cents").cast("decimal(38,0)")
    prev_c = F.col("prev.rev_cents").cast("decimal(38,0)")
    pct = F.when(prev_c.isNull(), F.lit(None).cast("double")).otherwise(
        signed_ratio_round(cur_c - prev_c, prev_c)
    )
    return cur.join(
        prev, F.col("prev.day") == F.date_sub(F.col("cur.day"), 7), "left"
    ).select(
        F.col("cur.day").alias("day"),
        F.col("cur.rev_cents").alias("rev_cents"),
        F.col("prev.rev_cents").alias("prev_rev_cents"),
        pct.alias("wow_pct"),
    )


@op(
    "hierarchy_rollup",
    oracle="""
    WITH RECURSIVE e AS (
        SELECT a.c_custkey AS node, a.c_custkey // 10 AS parent,
               (b.c_custkey IS NOT NULL) AS has_parent
        FROM customer a
        LEFT JOIN customer b ON b.c_custkey = a.c_custkey // 10
    ), climb AS (
        SELECT node AS c_custkey, node AS cur, 0 AS depth FROM e
        UNION ALL
        SELECT c.c_custkey, e.parent, c.depth + 1
        FROM climb c JOIN e ON e.node = c.cur
        WHERE c.cur >= 10 AND e.has_parent
    )
    SELECT c.c_custkey, CAST(c.cur AS BIGINT) AS root_key,
           CAST(c.depth AS INT) AS depth
    FROM climb c JOIN e ON e.node = c.cur
    WHERE c.cur < 10 OR NOT e.has_parent
    """,
    tags=("join", "recursive", "graph"),
)
def hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE surface: climb a parent hierarchy (org chart / BOM
    / account tree) to each node's ROOT and DEPTH. The edge table here
    derives parent = key//10 from the corpus so the oracle is a true
    WITH RECURSIVE; the Spark side here is the engine-idiomatic
    equivalent — a bounded ITERATIVE JOIN against the edge table, one
    hop per round, constants-only driver loop (Spark 4.1 also supports
    native WITH RECURSIVE — see `recursive_cte_hierarchy` in sql_api.py
    for the declarative twin of this exact query);
    a has_parent flag on the edge table keeps the walk TOTAL when a
    parent key is missing (sampled/filtered corpora) — the node roots
    at its last reachable ancestor on BOTH engines
    (same discipline as dedup_cluster_canonical's label propagation).
    Five rounds cover depth<=5 here; for deep hierarchies the same loop
    upgrades to pointer-doubling (halving rounds to O(log depth)).
    Every round is a keyed equi-join — at 100 TB each hop is one
    shuffle, and finished rows short-circuit via the conditional
    update."""
    c = _t(spark, sf_dir, "customer")
    nodes = c.select(F.col("c_custkey").alias("pnode"))
    # has_parent makes the climb TOTAL on non-contiguous key sets: a
    # dangling parent stops the walk with the node's last reachable
    # ancestor as root (instead of silently dropping or NULLing the row)
    edges = (
        c.select(
            F.col("c_custkey").alias("node"),
            exact_floor_div(F.col("c_custkey"), F.lit(10)).cast("long").alias("parent"),
        )
        .join(nodes, F.col("parent") == F.col("pnode"), "left")
        .select("node", "parent", F.col("pnode").isNotNull().alias("has_parent"))
    )
    state = c.select(
        "c_custkey",
        F.col("c_custkey").alias("cur"),
        F.lit(0).alias("depth"),
    )
    for _ in range(5):
        state = (
            state.join(edges, state.cur == edges.node)
            .select(
                "c_custkey",
                F.when((F.col("cur") >= 10) & F.col("has_parent"), F.col("parent"))
                .otherwise(F.col("cur")).alias("cur"),
                F.when((F.col("cur") >= 10) & F.col("has_parent"), F.col("depth") + 1)
                .otherwise(F.col("depth")).alias("depth"),
            )
        )
    return state.select(
        "c_custkey", F.col("cur").cast("long").alias("root_key"),
        F.col("depth").cast("int").alias("depth"),
    )


# Mergeable-sketch demo: bitmap geometry (bits per word chosen < 63 so
# masks stay positive in signed int64 on both engines).
SKETCH_BITS = 4080
SKETCH_WORD = 60
SKETCH_WORDS = SKETCH_BITS // SKETCH_WORD


@op(
    "sketch_merge_running_distinct",
    oracle=f"""
    WITH ud AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                   % {SKETCH_BITS} AS bit
        FROM events
    ), daily AS (
        SELECT day, bit // {SKETCH_WORD} AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(bit % {SKETCH_WORD} AS INTEGER))
                   AS w
        FROM ud GROUP BY 1, 2
    ), days AS (
        SELECT DISTINCT day FROM ud
    ), grid AS (
        SELECT d.day, g.word
        FROM days d CROSS JOIN (
            SELECT unnest(range(0, {SKETCH_WORDS})) AS word) g
    ), cum AS (
        SELECT grid.day, grid.word,
               bit_or(daily.w) OVER (PARTITION BY grid.word ORDER BY grid.day
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cw
        FROM grid LEFT JOIN daily
          ON daily.day = grid.day AND daily.word = grid.word
    ), per_day AS (
        SELECT day, sum(bit_count(coalesce(cw, 0))) AS n_set
        FROM cum GROUP BY day
    ), firsts AS (
        SELECT min(CAST(date_trunc('day', ts) AS DATE)) AS first_day, user_id
        FROM events GROUP BY user_id
    ), fcnt AS (
        SELECT d.day, count(f.user_id) AS n_new
        FROM days d LEFT JOIN firsts f ON f.first_day = d.day
        GROUP BY d.day
    )
    SELECT p.day, CAST(p.n_set AS BIGINT) AS n_bits_set,
           round({SKETCH_BITS} * ln({SKETCH_BITS} * 1.0
                                    / ({SKETCH_BITS} - p.n_set)), 2) AS lc_estimate,
           CAST(sum(f.n_new) OVER (ORDER BY p.day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_true_cumulative
    FROM per_day p JOIN fcnt f USING (day)
    """,
    tags=("sketch", "distinct", "scale-pattern", "window"),
)
def sketch_merge_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY — the property that makes approximate
    distinct practical at 100 TB: one fixed-size bitmap sketch per day
    (68 x int64 words), merged by windowed bit_or into a running
    'distinct users to date' estimate WITHOUT ever re-touching history
    (`linear_counting_distinct` is the single-shot estimator; this is
    its incremental deployment — daily sketches persist, each new day
    is one OR). The md5-derived bitmap makes the whole thing, estimate
    included, hash-checkable; the exact cumulative count rides along
    via the first-seen-day trick to show the sketch error. State:
    68 words x days — constant per day regardless of user volume."""
    from my_polars_ai_spark.operators.dedup import portable_hash60

    e = _t(spark, sf_dir, "events")
    ud = e.select(
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        (portable_hash60(F.col("user_id").cast("string")) % SKETCH_BITS).alias("bit"),
    ).distinct()
    daily = (
        ud.select(
            "day",
            exact_floor_div(F.col("bit"), F.lit(SKETCH_WORD)).cast("int").alias("word"),
            # DataFrame shiftleft() only takes a literal shift — the SQL
            # form accepts a column
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(bit % {SKETCH_WORD} AS INT))").alias("mask"),
        )
        .groupBy("day", "word")
        .agg(F.bit_or("mask").alias("w"))
    )
    days = ud.select("day").distinct()
    words = spark.range(SKETCH_WORDS).select(F.col("id").cast("int").alias("word"))
    grid = days.crossJoin(words)
    cum = grid.join(daily, ["day", "word"], "left").select(
        "day", "word",
        F.bit_or("w").over(
            Window.partitionBy("word").orderBy("day")
            .rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cw"),
    )
    per_day = cum.groupBy("day").agg(
        F.sum(F.bit_count(F.coalesce("cw", F.lit(0)))).alias("n_set")
    )
    firsts = e.groupBy("user_id").agg(
        F.min(F.to_date(F.date_trunc("day", "ts"))).alias("first_day")
    )
    fcnt = days.join(firsts, days.day == firsts.first_day, "left").groupBy("day").agg(
        F.count("user_id").alias("n_new")
    )
    est = F.round(
        SKETCH_BITS * F.log(SKETCH_BITS * F.lit(1.0) / (SKETCH_BITS - F.col("n_set"))), 2
    )
    w_day = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.join(fcnt, "day").select(
        "day",
        F.col("n_set").cast("long").alias("n_bits_set"),
        est.alias("lc_estimate"),
        F.sum("n_new").over(w_day).cast("long").alias("n_true_cumulative"),
    )


@op(
    "cascade_delete_audit",
    oracle="""
    WITH del AS (
        SELECT c_custkey FROM customer
        WHERE ('0x' || substr(md5('del:' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
              % 20 = 0
    ), del_orders AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM del)
    )
    SELECT 'customer' AS table_name,
           CAST((SELECT count(*) FROM del) AS BIGINT) AS n_rows_deleted
    UNION ALL
    SELECT 'orders', CAST((SELECT count(*) FROM del_orders) AS BIGINT)
    UNION ALL
    SELECT 'lineitem', CAST(count(*) AS BIGINT) FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders)
    UNION ALL
    SELECT 'events', CAST(count(*) AS BIGINT) FROM events
    WHERE user_id IN (SELECT c_custkey FROM del)
    """,
    tags=("audit", "join", "compliance"),
)
def cascade_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure impact audit: given a deterministic deletion
    list (~5% of customers by content hash), count the rows each table
    loses under cascading delete (customer -> orders -> lineitem, plus
    the user's event stream) — the dry-run report a GDPR/CCPA pipeline
    produces before executing the purge. Each hop is a LEFT SEMI join
    down the foreign-key chain: the deletion list broadcasts; the
    order-key set is fact-sized, so that hop stays a shuffled semi join
    AQE owns. Counts collapse before the union — bounded output."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    e = _t(spark, sf_dir, "events")
    from my_polars_ai_spark.operators.dedup import portable_hash60

    del_cust = c.select("c_custkey").filter(
        portable_hash60(F.concat(F.lit("del:"), F.col("c_custkey").cast("string"))) % 20 == 0
    )
    del_orders = o.join(
        del_cust, o.o_custkey == del_cust.c_custkey, "leftsemi"
    ).select("o_orderkey")
    del_li = li.join(del_orders, li.l_orderkey == del_orders.o_orderkey, "leftsemi")
    del_ev = e.join(del_cust, e.user_id == del_cust.c_custkey, "leftsemi")

    def metric(df: DataFrame, table: str) -> DataFrame:
        return _labeled_count(df, "n_rows_deleted", table_name=table)

    return (
        metric(del_cust, "customer")
        .unionByName(metric(del_orders, "orders"))
        .unionByName(metric(del_li, "lineitem"))
        .unionByName(metric(del_ev, "events"))
    )


@op(
    "dow_seasonality",
    oracle=f"""
    WITH d AS (
        SELECT (CAST(o_orderdate AS DATE) - DATE '1970-01-01' + 4) % 7 AS dow,
               CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100 AS HUGEINT) AS cents
        FROM orders
    ), per AS (
        SELECT dow, count(*) AS n, sum(cents) AS s FROM d GROUP BY dow
    ), tot AS (
        SELECT sum(n) AS tn, sum(s) AS ts FROM per
    )
    SELECT CAST(dow AS INTEGER) AS dow,
           CAST(n AS BIGINT) AS n_orders,
           CAST(s AS BIGINT) AS rev_cents,
           {oracle_ratio_round('s * tot.tn', 'n * tot.ts')} AS seasonality_index
    FROM per CROSS JOIN tot
    """,
    tags=("timeseries", "report", "agg"),
)
def dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index: each weekday's average order value
    relative to the overall average — the multiplicative seasonal
    factor reporting layers publish (index > 1 = rich days). Weekday
    derives from pure epoch-day arithmetic ((days+4) % 7, 0=Sunday) so
    no engine/locale calendar seam exists, and the index is the exact
    integer rational (sum_d * n_total)/(n_d * sum_total) under the
    shared half-up rounding. One 7-group aggregate + a 1-row broadcast
    of the totals."""
    o = _t(spark, sf_dir, "orders")
    d = o.select(
        ((F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")) + 4) % 7)
        .alias("dow"),
        (F.col("o_totalprice").cast("decimal(28,6)") * 100)
        .cast("decimal(38,0)").alias("cents"),
    )
    per = d.groupBy("dow").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("cents").alias("s"),
    )
    tot = per.agg(F.sum("n").alias("tn"), F.sum("s").alias("ts"))
    return per.crossJoin(tot).select(
        F.col("dow").cast("int").alias("dow"),
        F.col("n").cast("long").alias("n_orders"),
        F.col("s").cast("long").alias("rev_cents"),
        ratio_round(F.col("s") * F.col("tn"), F.col("n") * F.col("ts"))
        .alias("seasonality_index"),
    )


@op(
    "zscore_outlier_exact",
    oracle="""
    WITH v AS (
        SELECT event_id, event_type,
               CAST(CAST(value AS DECIMAL(28,6)) * 100 AS HUGEINT) AS cents
        FROM events
    ), s AS (
        SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
               sum(cents) AS sv, sum(cents*cents) AS svv
        FROM v GROUP BY event_type
    )
    SELECT v.event_id, v.event_type,
           CAST(v.cents AS BIGINT) AS cents,
           (s.n * (s.n*v.cents - s.sv) * (s.n*v.cents - s.sv)
            > 9 * s.n * (s.n*s.svv - s.sv*s.sv)) AS is_outlier
    FROM v JOIN s USING (event_type)
    """,
    tags=("anomaly", "stats", "agg"),
)
def zscore_outlier_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-sigma outlier flags WITHOUT floats: |x - mean| > 3*sigma cross-
    multiplies to n*(n*x - S)^2 > 9*n*(n*Q - S^2) over the exact integer
    moments (S = sum, Q = sum of squares) — the mean-based complement to
    `anomaly_mad`'s median rule, and the proof that even sigma
    thresholds need no floating point. Per-type moments are one
    map-side-combined aggregate broadcast back onto the rows; the flag
    is a narrow comparison. DECIMAL(38,0) holds every product at fact
    scale."""
    e = _t(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    v = e.select(
        "event_id", "event_type",
        (F.col("value").cast("decimal(28,6)") * 100).cast(dec).alias("cents"),
    )
    s = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("cents").alias("sv"),
        F.sum(F.col("cents") * F.col("cents")).alias("svv"),
    )
    dev = F.col("n") * F.col("cents") - F.col("sv")
    var_num = F.col("n") * F.col("svv") - F.col("sv") * F.col("sv")
    return v.join(s, "event_type").select(
        "event_id", "event_type",
        F.col("cents").cast("long").alias("cents"),
        (F.col("n") * dev * dev > 9 * F.col("n") * var_num).alias("is_outlier"),
    )


@op(
    "late_arrival_fraction",
    oracle=f"""
    WITH m AS (
        SELECT user_id, ts,
               max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS seen_max
        FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN ts < seen_max THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late,
           {oracle_ratio_round('sum(CASE WHEN ts < seen_max THEN 1 ELSE 0 END)', 'count(*)')}
               AS late_rate
    FROM m GROUP BY user_id
    """,
    tags=("timeseries", "quality", "window"),
)
def late_arrival_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order arrival rate per user: events whose timestamp is
    behind the maximum already ingested for that user (event_id =
    ingestion order) — THE measurement that picks a streaming
    watermark delay (`withWatermark` tuning is exactly a quantile of
    this lateness). One keyed window (running max over the prior frame,
    strictly exclusive so a row never compares to itself) + a per-user
    rollup on the same key; the rate uses the shared integer half-up
    rounding."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = e.select(
        "user_id", "ts", F.max("ts").over(w).alias("seen_max")
    )
    late = F.when(F.col("ts") < F.col("seen_max"), 1).otherwise(0)
    return m.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(late).cast("long").alias("n_late"),
        ratio_round(F.sum(late), F.count(F.lit(1))).alias("late_rate"),
    )


@op(
    "incremental_rollup_maintenance",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(value AS DECIMAL(28,6)) * 100 AS HUGEINT))
                AS BIGINT) AS cents,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
    tags=("agg", "incremental", "scale-pattern"),
)
def incremental_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance, end to end: the
    corpus splits deterministically into a BASE snapshot (~90%) and a
    newly-arrived DELTA (~10%, by event-id hash); each side reduces to
    mergeable partials (count, exact cents sum, per-user presence),
    and the stored view updates by MERGING partials — never re-reading
    the base facts. The oracle is the full recompute, so the green
    hash IS the proof that merge(rollup(base), rollup(delta)) ==
    rollup(all) — including the distinct-count column, which stays
    mergeable by keeping (day, type, user) grain until AFTER the merge
    (the standard trick: distinct aggregates don't merge, presence
    sets do). This is `merge_partial_aggs`' algebra promoted to the
    real maintenance loop every 100 TB rollup runs nightly."""
    from my_polars_ai_spark.operators.dedup import portable_hash60

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        "event_type",
        (F.col("value").cast("decimal(28,6)") * 100)
        .cast("decimal(38,0)").alias("cents"),
        (portable_hash60(F.concat(F.lit("inc:"), F.col("event_id").cast("string")))
         % 10 == 0).alias("is_delta"),
    )

    def partials(df: DataFrame) -> DataFrame:
        # user grain preserved: presence merges, DISTINCT wouldn't
        return df.groupBy("day", "event_type", "user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents"),
        )

    base = partials(e.filter(~F.col("is_delta")))
    delta = partials(e.filter(F.col("is_delta")))
    merged = (
        base.unionByName(delta)
        .groupBy("day", "event_type", "user_id")
        .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
    )
    return merged.groupBy("day", "event_type").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("cents"),
        F.count(F.lit(1)).alias("n_users"),
    )


@op(
    "join_cardinality_estimate",
    oracle="""
    WITH a AS (
        SELECT o_custkey AS k, count(*) AS ca FROM orders GROUP BY 1
    ), b AS (
        SELECT user_id AS k, count(*) AS cb FROM events GROUP BY 1
    )
    SELECT CAST(sum(a.ca * b.cb) AS BIGINT) AS predicted_rows,
           CAST(count(*) AS BIGINT) AS n_matching_keys,
           CAST(max(a.ca * b.cb) AS BIGINT) AS max_key_contribution
    FROM a JOIN b USING (k)
    """,
    tags=("join", "stats", "scale-pattern"),
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact join-output cardinality WITHOUT executing the join:
    |A join B on k| = sum over keys of cnt_A(k)*cnt_B(k) — the
    pre-flight a pipeline runs before an expensive fact-fact join to
    catch blowups (and max_key_contribution is the skew headline: one
    key owning the output means salt before you join). Both sides
    reduce to per-key counts FIRST (map-side combined), so the probe
    join touches only distinct keys — orders x events here would be
    ~1000x larger than the count-table join that predicts it."""
    o = _t(spark, sf_dir, "orders")
    e = _t(spark, sf_dir, "events")
    a = o.groupBy(F.col("o_custkey").alias("k")).agg(F.count(F.lit(1)).alias("ca"))
    b = e.groupBy(F.col("user_id").alias("k")).agg(F.count(F.lit(1)).alias("cb"))
    prod = F.col("ca") * F.col("cb")
    return a.join(b, "k").agg(
        F.sum(prod).cast("long").alias("predicted_rows"),
        F.count(F.lit(1)).alias("n_matching_keys"),
        F.max(prod).cast("long").alias("max_key_contribution"),
    )


@op(
    "corpus_table_profile",
    oracle="""
    SELECT 'region' AS table_name, CAST(count(*) AS BIGINT) AS n_rows FROM region
    UNION ALL SELECT 'nation', count(*) FROM nation
    UNION ALL SELECT 'customer', count(*) FROM customer
    UNION ALL SELECT 'supplier', count(*) FROM supplier
    UNION ALL SELECT 'part', count(*) FROM part
    UNION ALL SELECT 'orders', count(*) FROM orders
    UNION ALL SELECT 'lineitem', count(*) FROM lineitem
    UNION ALL SELECT 'events', count(*) FROM events
    UNION ALL SELECT 'documents', count(*) FROM documents
    UNION ALL SELECT 'embeddings', count(*) FROM embeddings
    """,
    tags=("audit", "report", "scan"),
)
def corpus_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog row-count profile across every corpus table — the
    warehouse freshness/size dashboard (and the sanity row the driver's
    smoke check implicitly depends on). Each count is a metadata-cheap
    scan Spark satisfies from parquet footer statistics; ten 1-row
    aggregates unioned, scheduled concurrently as independent
    subtrees."""
    tables = ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings")
    out = None
    for t in tables:
        one = _labeled_count(_t(spark, sf_dir, t), "n_rows", table_name=t)
        out = one if out is None else out.unionByName(one)
    return out


@op(
    "activity_entropy",
    oracle=f"""
    WITH c AS (
        SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2
    ), n AS (
        SELECT user_id, sum(c) AS n FROM c GROUP BY user_id
    ), terms AS (
        SELECT c.user_id,
               CAST(round((c.c * 1.0 / n.n) * ln(n.n * 1.0 / c.c) * 1000000)
                    AS HUGEINT) AS t_micro
        FROM c JOIN n USING (user_id)
    )
    SELECT user_id,
           CAST(sum(t_micro) AS BIGINT) AS entropy_micro,
           round(sum(t_micro) / 1000000.0, {ROUND_RATIO}) AS entropy_nats
    FROM terms GROUP BY user_id
    """,
    tags=("stats", "agg", "profile"),
)
def activity_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-breadth entropy per user: H = sum p*ln(1/p) over the
    user's event-type mix — 0 for single-behavior users, ln(4) for a
    uniform mix; the engagement-diversity feature behind churn and
    bot models. Each term's single transcendental rounds ONCE to
    integer micro-nats (counts are exact, so both engines evaluate the
    identical double), then per-user summation is exact integer
    arithmetic — the unigram_logprob_score discipline applied to a
    per-entity statistic. Two keyed aggregations, state bounded by the
    type domain."""
    e = _t(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    n = c.groupBy("user_id").agg(F.sum("c").alias("n"))
    t_micro = (
        F.round(
            (F.col("c") * 1.0 / F.col("n"))
            * F.log(F.col("n") * 1.0 / F.col("c")) * 1000000
        ).cast("decimal(38,0)").alias("t_micro")
    )
    terms = c.join(n, "user_id").select("user_id", t_micro)
    return terms.groupBy("user_id").agg(
        F.sum("t_micro").cast("long").alias("entropy_micro"),
        F.round(F.sum("t_micro") / 1000000.0, ROUND_RATIO).alias("entropy_nats"),
    )


# Recency decay: revenue halves every _DECAY_DAYS days before the fixed
# anchor; epochs cap at _DECAY_CAP so the dyadic weight 2^(cap - epoch)
# stays an exact integer (max weight 4096).
_DECAY_ANCHOR = "2001-09-01"
_DECAY_DAYS = 90
_DECAY_CAP = 12

_DECAY_REVENUE_SQL = f"""
    WITH w AS (
        SELECT o_custkey,
               CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100 AS HUGEINT)
                   AS cents,
               least(date_diff('day', CAST(o_orderdate AS DATE),
                               DATE '{_DECAY_ANCHOR}') // {_DECAY_DAYS},
                     {_DECAY_CAP}) AS epoch
        FROM orders
    )
    SELECT o_custkey AS custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           {oracle_ratio_round(
               f"sum(cents * CAST(power(2, {_DECAY_CAP} - epoch) AS HUGEINT))",
               f"100 * {2 ** _DECAY_CAP}", 2)} AS decayed_revenue
    FROM w GROUP BY o_custkey
"""


@op(
    "decay_weighted_revenue",
    oracle=_DECAY_REVENUE_SQL,
    tags=("analytics", "timeseries", "decay"),
)
def decay_weighted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed customer value: each order's revenue is halved
    for every 90 days of age at the fixed anchor date (epochs capped at
    12), the step-decay form of exponential smoothing that stays
    EXACT: the weight 2^(12 - epoch) is an integer, so the weighted
    sum accumulates in integer cents-times-weight units and divides
    once at the end — no pow() floats to drift between engines. Plan
    shape: one map-side-combinable groupBy on the natural customer
    key; the decay arithmetic is a scan-level projection."""
    o = _t(spark, sf_dir, "orders")
    days = F.datediff(F.lit(_DECAY_ANCHOR).cast("date"), F.to_date("o_orderdate"))
    epoch = F.least(
        exact_floor_div(days, F.lit(_DECAY_DAYS)), F.lit(_DECAY_CAP).cast("decimal(38,0)")
    )
    cents = (F.col("o_totalprice").cast("decimal(28,6)") * 100).cast("decimal(38,0)")
    weight = F.pow(F.lit(2.0), (F.lit(_DECAY_CAP) - epoch).cast("double")).cast(
        "decimal(38,0)"
    )
    w = o.select(F.col("o_custkey").alias("custkey"), (cents * weight).alias("wcents"))
    return w.groupBy("custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        ratio_round(F.sum("wcents"), F.lit(100 * (2**_DECAY_CAP)), 2).alias(
            "decayed_revenue"
        ),
    )


_AB_TEST_SQL = f"""
    WITH u AS (
        SELECT user_id, user_id % 2 AS variant,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    ), g AS (
        SELECT variant, count(*) AS n, sum(converted) AS x FROM u GROUP BY 1
    ), w AS (
        SELECT max(CASE WHEN variant = 0 THEN n END) AS n0,
               max(CASE WHEN variant = 0 THEN x END) AS x0,
               max(CASE WHEN variant = 1 THEN n END) AS n1,
               max(CASE WHEN variant = 1 THEN x END) AS x1
        FROM g
    )
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(x0 AS BIGINT) AS x0,
           CAST(n1 AS BIGINT) AS n1, CAST(x1 AS BIGINT) AS x1,
           {oracle_signed_ratio_round('x0*n1 - x1*n0', 'n0*n1')} AS diff,
           CASE WHEN x0 + x1 = 0 OR x0 + x1 = n0 + n1 THEN NULL
                ELSE round((CAST(x0 AS DOUBLE) / n0 - CAST(x1 AS DOUBLE) / n1)
                     / sqrt((CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
                            * (1 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
                            * (1.0 / n0 + 1.0 / n1)), 6) END AS z_stat
    FROM w
"""


@op(
    "ab_test_two_proportion",
    oracle=_AB_TEST_SQL,
    tags=("analytics", "stats", "experiment"),
)
def ab_test_two_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on user conversion (variant = user_id
    parity, the deterministic assignment every experiment system hashes
    users into): pooled standard error, z = (p0-p1)/SE. The rate
    difference is the exact signed rational (x0*n1 - x1*n0)/(n0*n1)
    via signed_ratio_round (the base.py contract for signed
    rationals); z involves a sqrt so it stays in IEEE doubles, whose
    inputs are exact integer counts — both hash-match across engines. Plan: per-user conversion flag via one
    user-keyed aggregation (map-side combinable max), then a 2-row
    rollup pivoted to one report row."""
    e = _t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("converted")
    ).select((F.col("user_id") % 2).alias("variant"), "converted")
    g = u.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("x")
    )
    w = g.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("x"))).alias("x0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("x"))).alias("x1"),
    )
    p0 = F.col("x0").cast("double") / F.col("n0")
    p1 = F.col("x1").cast("double") / F.col("n1")
    xs = F.col("x0") + F.col("x1")
    ns = F.col("n0") + F.col("n1")
    pp = xs.cast("double") / ns
    # degenerate experiment (0% or 100% pooled conversion): SE is 0 and the
    # statistic is undefined — NULL on both engines instead of an ANSI
    # divide-by-zero (this corpus converts every user, so the guard is live)
    z = F.when(
        (xs != 0) & (xs != ns),
        (p0 - p1) / F.sqrt(pp * (1 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))),
    )
    return w.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("x0").cast("long").alias("x0"),
        F.col("n1").cast("long").alias("n1"),
        F.col("x1").cast("long").alias("x1"),
        signed_ratio_round(
            F.col("x0") * F.col("n1") - F.col("x1") * F.col("n0"),
            F.col("n0") * F.col("n1"),
        ).alias("diff"),
        F.round(z, 6).alias("z_stat"),
    )


_WINSOR_SQL = f"""
    WITH b AS (
        SELECT event_type,
               round(quantile_cont(value, 0.05), 6) AS b_lo,
               round(quantile_cont(value, 0.95), 6) AS b_hi
        FROM events GROUP BY event_type
    ), c AS (
        SELECT e.event_type,
               CAST(CAST(least(greatest(e.value, b.b_lo), b.b_hi)
                         AS DECIMAL(28,6)) * 1000000 AS HUGEINT) AS vm
        FROM events e JOIN b USING (event_type)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           {oracle_ratio_round('sum(vm)', 'count(*) * 1000000')}
               AS winsorized_mean
    FROM c GROUP BY event_type
"""


@op(
    "winsorized_mean_by_type",
    oracle=_WINSOR_SQL,
    tags=("stats", "robust", "agg"),
)
def winsorized_mean_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust mean: clip each event value into its type's [p5, p95]
    band, then average — the outlier-resistant aggregate dashboards
    use when MAD flags (anomaly_mad) say the tails are dirty. The
    percentile boundaries are rounded ONCE at 6dp (the proven-portable
    exact-percentile seam from median_quantiles) so the clip decision
    compares every raw double to the SAME boundary on both engines;
    clipped values then round once into integer micro-units and the
    mean is an exact rational. Two passes over events (boundaries,
    then clip+sum), both keyed on the bounded event_type dimension;
    at 100 TB swap pass one to percentile_approx like approx_quantiles."""
    e = _t(spark, sf_dir, "events")
    pcts = F.percentile("value", F.array(F.lit(0.05), F.lit(0.95)))
    b = e.groupBy("event_type").agg(pcts.alias("__p")).select(
        "event_type",
        F.round(F.element_at("__p", 1), 6).alias("b_lo"),
        F.round(F.element_at("__p", 2), 6).alias("b_hi"),
    )
    c = e.join(b, "event_type").select(
        "event_type",
        (
            F.least(F.greatest(F.col("value"), F.col("b_lo")), F.col("b_hi"))
            .cast("decimal(28,6)")
            * 1000000
        )
        .cast("decimal(38,0)")
        .alias("vm"),
    )
    return c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        ratio_round(F.sum("vm"), F.count(F.lit(1)) * 1000000).alias(
            "winsorized_mean"
        ),
    )


_RFM_SQL = """
    WITH cust AS (
        SELECT o_custkey,
               date_diff('day', CAST(max(o_orderdate) AS DATE),
                         DATE '2001-09-01') AS recency_days,
               count(*) AS frequency,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100
                             AS HUGEINT)) AS BIGINT) AS monetary_cents
        FROM orders GROUP BY o_custkey
    ), b AS (
        SELECT round(quantile_cont(CAST(recency_days AS DOUBLE), 0.2), 6) AS r1,
               round(quantile_cont(CAST(recency_days AS DOUBLE), 0.4), 6) AS r2,
               round(quantile_cont(CAST(recency_days AS DOUBLE), 0.6), 6) AS r3,
               round(quantile_cont(CAST(recency_days AS DOUBLE), 0.8), 6) AS r4,
               round(quantile_cont(CAST(frequency AS DOUBLE), 0.2), 6) AS f1,
               round(quantile_cont(CAST(frequency AS DOUBLE), 0.4), 6) AS f2,
               round(quantile_cont(CAST(frequency AS DOUBLE), 0.6), 6) AS f3,
               round(quantile_cont(CAST(frequency AS DOUBLE), 0.8), 6) AS f4,
               round(quantile_cont(CAST(monetary_cents AS DOUBLE), 0.2), 6) AS m1,
               round(quantile_cont(CAST(monetary_cents AS DOUBLE), 0.4), 6) AS m2,
               round(quantile_cont(CAST(monetary_cents AS DOUBLE), 0.6), 6) AS m3,
               round(quantile_cont(CAST(monetary_cents AS DOUBLE), 0.8), 6) AS m4
        FROM cust
    )
    SELECT o_custkey AS custkey,
           CAST(recency_days AS BIGINT) AS recency_days,
           CAST(frequency AS BIGINT) AS frequency,
           monetary_cents,
           -- recency: LOWER is better, so score runs 5..1
           CAST(6 - (1 + (recency_days > r1)::INT + (recency_days > r2)::INT
                     + (recency_days > r3)::INT + (recency_days > r4)::INT)
                AS INT) AS r_score,
           CAST(1 + (frequency > f1)::INT + (frequency > f2)::INT
                + (frequency > f3)::INT + (frequency > f4)::INT AS INT) AS f_score,
           CAST(1 + (monetary_cents > m1)::INT + (monetary_cents > m2)::INT
                + (monetary_cents > m3)::INT + (monetary_cents > m4)::INT
                AS INT) AS m_score
    FROM cust CROSS JOIN b
"""


@op(
    "rfm_segments",
    oracle=_RFM_SQL,
    tags=("analytics", "segmentation"),
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic RFM segmentation: per-customer Recency (days since last
    order at the fixed anchor), Frequency (order count), Monetary
    (lifetime cents), each scored 1-5 against the population's exact
    quintile boundaries. Boundaries come from ONE global percentile
    aggregate over the customer rollup (an aggregation, NOT a global
    window — no single-partition sort of the fact table), rounded at
    the proven-portable 6dp seam, then broadcast as one row; scores
    are strict-> comparisons against those boundaries, so every score
    is deterministic on both engines. Two shuffles total: the customer
    rollup and the 1-row reduce."""
    o = _t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("2001-09-01").cast("date"), F.to_date(F.max("o_orderdate"))
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum((F.col("o_totalprice").cast("decimal(28,6)") * 100).cast("decimal(38,0)"))
        .cast("long")
        .alias("monetary_cents"),
    )
    qs = [0.2, 0.4, 0.6, 0.8]
    b = cust.agg(
        *[
            F.round(
                F.percentile(F.col(c).cast("double"), F.lit(q)), 6
            ).alias(f"{c[0]}{i + 1}")
            for c in ("recency_days", "frequency", "monetary_cents")
            for i, q in enumerate(qs)
        ]
    )
    def score(col, prefix):
        s = F.lit(1)
        for i in range(1, 5):
            s = s + (F.col(col) > F.col(f"{prefix}{i}")).cast("int")
        return s
    return cust.crossJoin(b).select(
        F.col("o_custkey").alias("custkey"),
        F.col("recency_days").cast("long").alias("recency_days"),
        F.col("frequency").cast("long").alias("frequency"),
        "monetary_cents",
        (F.lit(6) - score("recency_days", "r")).cast("int").alias("r_score"),
        score("frequency", "f").cast("int").alias("f_score"),
        score("monetary_cents", "m").cast("int").alias("m_score"),
    )


K_ANON = 5

_K_ANON_SQL = f"""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS group_size
        FROM customer GROUP BY 1, 2
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(group_size AS BIGINT) AS group_size,
           CAST(group_size < {K_ANON} AS INT) AS violates_k
    FROM g
"""


@op(
    "k_anonymity_audit",
    oracle=_K_ANON_SQL,
    tags=("governance", "privacy", "agg"),
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (nation, market segment)
    quasi-identifier: every equivalence class with its size and a
    violates-k flag (size < 5 means those customers are
    re-identifiable by the QI combination alone — the table a privacy
    review reads before any data release; companion to pii_redact and
    cascade_delete_audit). One map-side-combinable groupBy on the
    bounded QI grid."""
    c = _t(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    return g.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("group_size").cast("long").alias("group_size"),
        (F.col("group_size") < K_ANON).cast("int").alias("violates_k"),
    )


_SCD2_PIT_SQL = """
    WITH ordered AS (
        SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
               lag(o_orderstatus) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS prev_status
        FROM orders
    ), changes AS (
        SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate
        FROM ordered
        WHERE prev_status IS NULL OR prev_status != o_orderstatus
    ), scd AS (
        SELECT o_custkey,
               row_number() OVER w AS version,
               o_orderstatus AS status,
               o_orderdate AS valid_from,
               lead(o_orderdate) OVER w AS valid_to
        FROM changes
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
           s.status AS status_at_order, CAST(s.version AS BIGINT) AS version
    FROM orders o
    JOIN scd s ON s.o_custkey = o.o_custkey
     AND s.valid_from <= o.o_orderdate
     AND (s.valid_to IS NULL OR o.o_orderdate < s.valid_to)
"""


@op(
    "scd2_point_in_time_join",
    oracle=_SCD2_PIT_SQL,
    tags=("join", "history", "asof"),
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against the SCD2 dimension: every order
    joined to the version of its customer's status history in force AT
    its order date — the AS OF join every warehouse fact load runs
    against a versioned dimension. The oracle states the natural
    interval join (valid_from <= ts < valid_to); the Spark plan uses
    the as-of UNION TRICK instead: version starts and probe rows
    interleave in ONE per-key window sorted by (ts, tag, version), and
    last_value(ignorenulls) carries the in-force version forward —
    one sort shuffle on the key, no range join, no fan-out. Version
    rows sort before probes at equal ts (tag 0 < 1) and by ascending
    version within a tie, so a same-day correction (an empty
    [d, d) interval) is superseded exactly as the interval semantics
    demand."""
    scd = scd2_history(spark, sf_dir)
    o = _t(spark, sf_dir, "orders")
    v = scd.select(
        "o_custkey",
        F.col("valid_from").alias("ts"),
        F.lit(0).alias("tag"),
        "version",
        "status",
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    p = o.select(
        "o_custkey",
        F.col("o_orderdate").alias("ts"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("version"),
        F.lit(None).cast("string").alias("status"),
        "o_orderkey",
    )
    u = v.unionByName(p)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("ts", "tag", "version")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = u.select(
        "o_custkey",
        "ts",
        "tag",
        "o_orderkey",
        F.last("status", ignorenulls=True).over(w).alias("status_at_order"),
        F.last("version", ignorenulls=True).over(w).alias("version"),
    )
    return carried.filter(F.col("tag") == 1).select(
        "o_orderkey",
        "o_custkey",
        F.col("ts").alias("o_orderdate"),
        "status_at_order",
        F.col("version").cast("long").alias("version"),
    )


# Pearson r from exact integer accumulator columns n, sx, sy, sxy,
# sxx, syy (HUGEINT) — int->double conversion and the final arithmetic
# are IEEE-portable.
_PEARSON_EXPR = (
    "round((CAST(n*sxy - sx*sy AS DOUBLE))"
    " / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))"
    "    * sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6)"
)


_XCORR_SQL = f"""
    WITH od AS (
        SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS x
        FROM orders GROUP BY 1
    ), ld AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               sum(CAST(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(28,6)) * 1000000 AS HUGEINT)) AS y
        FROM lineitem GROUP BY 1
    ), p1 AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
        FROM od JOIN ld USING (day)
    ), ev AS (
        SELECT CAST(ts AS DATE) AS day,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
               sum(CASE WHEN event_type = 'purchase'
                        THEN CAST(CAST(value AS DECIMAL(28,6)) * 1000000 AS HUGEINT)
                        ELSE 0 END) AS y
        FROM events GROUP BY 1
    ), p2 AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
        FROM ev
    )
    SELECT 'orders_vs_revenue' AS pair, CAST(n AS BIGINT) AS n_days,
           {_PEARSON_EXPR} AS r
    FROM p1
    UNION ALL
    SELECT 'views_vs_purchase_value', CAST(n AS BIGINT), {_PEARSON_EXPR}
    FROM p2
"""


@op(
    "cross_table_daily_correlation",
    oracle=_XCORR_SQL,
    tags=("stats", "discovery", "analytics"),
)
def cross_table_daily_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-measure discovery ACROSS tables (the ICDE'22
    sketch-based dataset-search task, done exactly at this scale):
    align measures from different tables on a shared day grain —
    order counts vs shipped revenue; view counts vs purchase value —
    and report Pearson r per pair. All six accumulators (n, Sx, Sy,
    Sxy, Sxx, Syy) are exact integers (counts and tie-free 1e-6
    units — the half-CENT boundary is exactly where the two engines'
    double->decimal casts disagree, so money rounds at scale 6 here
    like every other revenue op), mergeable
    across shards, so r is one IEEE-portable expression at the end.
    Plan: one bounded daily aggregate per table, a day-keyed join of
    the two tiny series, 1-row reduces."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    e = _t(spark, sf_dir, "events")
    d38 = "decimal(38,0)"
    od = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast(d38).alias("x")
    )
    ld = li.groupBy(F.to_date("l_shipdate").alias("day")).agg(
        F.sum(
            ((F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .cast("decimal(28,6)") * 1000000).cast(d38)
        ).alias("y")
    )
    ev = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum((F.col("event_type") == "view").cast("int")).cast(d38).alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                (F.col("value").cast("decimal(28,6)") * 1000000).cast(d38),
            ).otherwise(F.lit(0).cast(d38))
        ).alias("y"),
    )

    def accum(df, label):
        a = df.agg(
            F.count(F.lit(1)).cast(d38).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        dx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        dy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
        return a.select(
            F.lit(label).alias("pair"),
            F.col("n").cast("long").alias("n_days"),
            F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6).alias("r"),
        )

    p1 = accum(od.join(ld, "day"), "orders_vs_revenue")
    p2 = accum(ev, "views_vs_purchase_value")
    return p1.unionByName(p2)


_AR_AGING_SQL = """
    WITH open_orders AS (
        SELECT o_orderkey, o_custkey,
               CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100 AS HUGEINT)
                   AS cents,
               date_diff('day', CAST(o_orderdate AS DATE), DATE '2001-08-15')
                   AS age_days
        FROM orders WHERE o_orderstatus = 'O'
    ), bucketed AS (
        SELECT CASE WHEN age_days <= 30 THEN '0-30'
                    WHEN age_days <= 60 THEN '31-60'
                    WHEN age_days <= 90 THEN '61-90'
                    ELSE '90+' END AS age_bucket,
               cents
        FROM open_orders
    )
    SELECT age_bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS open_cents
    FROM bucketed GROUP BY age_bucket
"""


@op(
    "ar_aging_buckets",
    oracle=_AR_AGING_SQL,
    tags=("analytics", "finance"),
)
def ar_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accounts-receivable aging: open ('O') orders bucketed by age at
    the fixed anchor (0-30/31-60/61-90/90+ days) with exact open cents
    per bucket — the finance report behind every collections
    dashboard. Status filter pushes to the scan; one bounded 4-row
    aggregation; money stays integer cents end-to-end."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    # anchor INSIDE the data range (max order date is 2001-08-01): every
    # bucket including 0-30 is reachable on this corpus
    age = F.datediff(F.lit("2001-08-15").cast("date"), F.to_date("o_orderdate"))
    bucket = (
        F.when(age <= 30, "0-30")
        .when(age <= 60, "31-60")
        .when(age <= 90, "61-90")
        .otherwise("90+")
    )
    cents = (F.col("o_totalprice").cast("decimal(28,6)") * 100).cast("decimal(38,0)")
    return (
        o.select(bucket.alias("age_bucket"), cents.alias("cents"))
        .groupBy("age_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").cast("long").alias("open_cents"),
        )
    )


_MIGRATION_SQL = """
    WITH h1 AS (
        SELECT o_custkey, count(*) AS c FROM orders
        WHERE CAST(o_orderdate AS DATE) < DATE '1998-06-01' GROUP BY 1
    ), h2 AS (
        SELECT o_custkey, count(*) AS c FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '1998-06-01' GROUP BY 1
    ), b1 AS (
        SELECT round(quantile_cont(CAST(c AS DOUBLE), 0.33), 6) AS q1,
               round(quantile_cont(CAST(c AS DOUBLE), 0.67), 6) AS q2
        FROM h1
    ), b2 AS (
        SELECT round(quantile_cont(CAST(c AS DOUBLE), 0.33), 6) AS q1,
               round(quantile_cont(CAST(c AS DOUBLE), 0.67), 6) AS q2
        FROM h2
    ), s1 AS (
        SELECT o_custkey,
               CASE WHEN c > b1.q2 THEN 'high'
                    WHEN c > b1.q1 THEN 'mid' ELSE 'low' END AS seg
        FROM h1 CROSS JOIN b1
    ), s2 AS (
        SELECT o_custkey,
               CASE WHEN c > b2.q2 THEN 'high'
                    WHEN c > b2.q1 THEN 'mid' ELSE 'low' END AS seg
        FROM h2 CROSS JOIN b2
    )
    SELECT coalesce(s1.seg, 'absent') AS seg_early,
           coalesce(s2.seg, 'absent') AS seg_late,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM s1 FULL OUTER JOIN s2 USING (o_custkey)
    GROUP BY 1, 2
"""


@op(
    "segment_migration_matrix",
    oracle=_MIGRATION_SQL,
    tags=("analytics", "segmentation", "retention"),
)
def segment_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer segment migration: tercile activity segments computed
    INDEPENDENTLY for the early and late half of the order history,
    full-outer-joined per customer into the low/mid/high/absent
    transition matrix — the upgrade/downgrade/churn picture behind
    lifecycle marketing. Boundaries use the portable 6dp percentile
    seam per half (a 1-row reduce each, broadcast back); the matrix is
    a bounded 4x4 aggregation; the only wide operation is the
    customer-keyed outer join."""
    o = _t(spark, sf_dir, "orders")
    cut = F.lit("1998-06-01").cast("date")

    def half(pred, tag):
        h = o.filter(pred).groupBy("o_custkey").agg(F.count(F.lit(1)).alias("c"))
        b = h.agg(
            F.round(F.percentile(F.col("c").cast("double"), F.lit(0.33)), 6).alias("q1"),
            F.round(F.percentile(F.col("c").cast("double"), F.lit(0.67)), 6).alias("q2"),
        )
        return h.crossJoin(b).select(
            "o_custkey",
            F.when(F.col("c") > F.col("q2"), "high")
            .when(F.col("c") > F.col("q1"), "mid")
            .otherwise("low")
            .alias(tag),
        )

    s1 = half(F.to_date("o_orderdate") < cut, "seg_early")
    s2 = half(F.to_date("o_orderdate") >= cut, "seg_late")
    return (
        s1.join(s2, "o_custkey", "full_outer")
        .select(
            F.coalesce("seg_early", F.lit("absent")).alias("seg_early"),
            F.coalesce("seg_late", F.lit("absent")).alias("seg_late"),
        )
        .groupBy("seg_early", "seg_late")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


_CUPED_SQL = f"""
    WITH cust AS (
        SELECT o_custkey, o_custkey % 2 AS variant,
               sum(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-06-01'
                        THEN 1 ELSE 0 END) AS x,
               sum(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1998-06-01'
                        THEN 1 ELSE 0 END) AS y
        FROM orders GROUP BY o_custkey
    ), theta AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               CAST(count(*) AS HUGEINT)*sum(x*y)
                   - CAST(sum(x) AS HUGEINT)*sum(y) AS p,
               CAST(count(*) AS HUGEINT)*sum(x*x)
                   - CAST(sum(x) AS HUGEINT)*sum(x) AS q
        FROM cust
    ), v AS (
        SELECT variant, count(*) AS nv, sum(x) AS sxv, sum(y) AS syv
        FROM cust GROUP BY variant
    ), adj AS (
        -- mean_y_cuped = syv/nv - (p/q) * (sxv/nv - sx/n)
        --             = (q*n*syv - p*(n*sxv - nv*sx)) / (q*n*nv)
        SELECT v.variant, v.nv, v.syv, t.n, t.p, t.q,
               t.q * t.n * CAST(v.syv AS HUGEINT)
                   - t.p * (CAST(t.n AS HUGEINT)*v.sxv
                            - CAST(v.nv AS HUGEINT)*t.sx) AS num,
               t.q * t.n * CAST(v.nv AS HUGEINT) AS den
        FROM v CROSS JOIN theta t
    )
    SELECT CAST(variant AS INT) AS variant,
           CAST(nv AS BIGINT) AS n_customers,
           {oracle_ratio_round('syv', 'nv')} AS mean_y,
           {oracle_signed_ratio_round('num', 'den')} AS mean_y_cuped
    FROM adj
"""


@op(
    "cuped_adjusted_ab",
    oracle=_CUPED_SQL,
    tags=("analytics", "experiment", "stats"),
)
def cuped_adjusted_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout: per-variant mean of
    the experiment-period metric (late-half order count) adjusted by
    the pre-period covariate (early-half count) with
    theta = cov(x,y)/var(x) — the pre-experiment-data trick every
    mature experimentation platform applies before the t-test. theta
    stays an exact integer rational P/Q (never a float), so the
    adjusted mean (q*n*syv - p*(n*sxv - nv*sx)) / (q*n*nv) is ONE
    signed half-up division — CUPED, hash-portable. Plan: one
    customer rollup, a 1-row theta reduce, a 2-row variant rollup."""
    o = _t(spark, sf_dir, "orders")
    cut = F.lit("1998-06-01").cast("date")
    cust = o.groupBy("o_custkey").agg(
        F.sum((F.to_date("o_orderdate") < cut).cast("int")).alias("x"),
        F.sum((F.to_date("o_orderdate") >= cut).cast("int")).alias("y"),
    ).select((F.col("o_custkey") % 2).alias("variant"), "x", "y")
    d38 = "decimal(38,0)"
    theta = cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        (
            F.count(F.lit(1)).cast(d38) * F.sum(F.col("x") * F.col("y"))
            - F.sum("x").cast(d38) * F.sum("y")
        ).alias("p"),
        (
            F.count(F.lit(1)).cast(d38) * F.sum(F.col("x") * F.col("x"))
            - F.sum("x").cast(d38) * F.sum("x")
        ).alias("q"),
    )
    v = cust.groupBy("variant").agg(
        F.count(F.lit(1)).alias("nv"),
        F.sum("x").alias("sxv"),
        F.sum("y").alias("syv"),
    )
    adj = v.crossJoin(theta).select(
        "variant",
        "nv",
        "syv",
        (
            F.col("q") * F.col("n").cast(d38) * F.col("syv").cast(d38)
            - F.col("p")
            * (
                F.col("n").cast(d38) * F.col("sxv").cast(d38)
                - F.col("nv").cast(d38) * F.col("sx").cast(d38)
            )
        ).alias("num"),
        (F.col("q") * F.col("n").cast(d38) * F.col("nv").cast(d38)).alias("den"),
    )
    return adj.select(
        F.col("variant").cast("int").alias("variant"),
        F.col("nv").cast("long").alias("n_customers"),
        (
            exact_floor_div(
                2 * 1000000 * F.col("syv").cast(d38) + F.col("nv").cast(d38),
                2 * F.col("nv").cast(d38),
            ).cast("double")
            / 1000000
        ).alias("mean_y"),
        (signed_ratio_round(F.col("num"), F.col("den"))).alias("mean_y_cuped"),
    )


_DID_SQL = f"""
    WITH cust AS (
        SELECT o_custkey, o_custkey % 2 AS grp,
               sum(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-06-01'
                        THEN 1 ELSE 0 END) AS pre,
               sum(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1998-06-01'
                        THEN 1 ELSE 0 END) AS post
        FROM orders GROUP BY o_custkey
    ), g AS (
        SELECT grp, count(*) AS n, sum(pre) AS sp, sum(post) AS sq
        FROM cust GROUP BY grp
    ), w AS (
        SELECT max(CASE WHEN grp = 1 THEN n END) AS n1,
               max(CASE WHEN grp = 1 THEN sp END) AS sp1,
               max(CASE WHEN grp = 1 THEN sq END) AS sq1,
               max(CASE WHEN grp = 0 THEN n END) AS n0,
               max(CASE WHEN grp = 0 THEN sp END) AS sp0,
               max(CASE WHEN grp = 0 THEN sq END) AS sq0
        FROM g
    ), d AS (
        -- DiD = (sq1-sp1)/n1 - (sq0-sp0)/n0
        --     = (n0*(sq1-sp1) - n1*(sq0-sp0)) / (n1*n0)
        SELECT n1, n0,
               CAST(n0 AS HUGEINT)*(sq1 - sp1)
                   - CAST(n1 AS HUGEINT)*(sq0 - sp0) AS num,
               CAST(n1 AS HUGEINT) * n0 AS den
        FROM w
    )
    SELECT CAST(n1 AS BIGINT) AS n_treat, CAST(n0 AS BIGINT) AS n_control,
           {oracle_signed_ratio_round('num', 'den')} AS did_estimate
    FROM d
"""


@op(
    "did_estimate",
    oracle=_DID_SQL,
    tags=("analytics", "experiment", "causal"),
)
def did_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: (post - pre) change for the treated
    group minus the same change for control — the parallel-trends
    causal estimate, one signed half-up division over exact integer
    sums (common denominator n1*n0). Completes the experimentation
    family: z-test (significance), CUPED (variance reduction), DiD
    (pre-trend adjustment). One customer rollup + a 2-row pivot."""
    o = _t(spark, sf_dir, "orders")
    cut = F.lit("1998-06-01").cast("date")
    cust = o.groupBy("o_custkey").agg(
        F.sum((F.to_date("o_orderdate") < cut).cast("int")).alias("pre"),
        F.sum((F.to_date("o_orderdate") >= cut).cast("int")).alias("post"),
    ).select((F.col("o_custkey") % 2).alias("grp"), "pre", "post")
    g = cust.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pre").alias("sp"),
        F.sum("post").alias("sq"),
    )
    w = g.agg(
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 1, F.col("sp"))).alias("sp1"),
        F.max(F.when(F.col("grp") == 1, F.col("sq"))).alias("sq1"),
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("grp") == 0, F.col("sp"))).alias("sp0"),
        F.max(F.when(F.col("grp") == 0, F.col("sq"))).alias("sq0"),
    )
    d38 = "decimal(38,0)"
    num = F.col("n0").cast(d38) * (F.col("sq1") - F.col("sp1")).cast(d38) - F.col(
        "n1"
    ).cast(d38) * (F.col("sq0") - F.col("sp0")).cast(d38)
    den = F.col("n1").cast(d38) * F.col("n0").cast(d38)
    return w.select(
        F.col("n1").cast("long").alias("n_treat"),
        F.col("n0").cast("long").alias("n_control"),
        signed_ratio_round(num, den).alias("did_estimate"),
    )


_THEIL_SQL = f"""
    WITH cust AS (
        SELECT c.c_nationkey AS nation,
               CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(28,6)) * 100
                             AS HUGEINT)) AS HUGEINT) AS x
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY o.o_custkey, c.c_nationkey
    ), tot AS (
        SELECT count(*) AS n, sum(x) AS xs FROM cust
    ), terms AS (
        SELECT c.x,
               CAST(round(ln(CAST(t.n AS DOUBLE) * c.x / t.xs) * 1000000)
                    AS BIGINT) AS lnr_micro
        FROM cust c CROSS JOIN tot t WHERE c.x > 0
    ), grp AS (
        SELECT nation, count(*) AS ng, sum(x) AS xg FROM cust GROUP BY 1
    ), gterms AS (
        SELECT g.xg,
               CAST(round(ln(CAST(t.n AS DOUBLE) * g.xg
                             / (CAST(g.ng AS DOUBLE) * t.xs)) * 1000000)
                    AS BIGINT) AS lnr_micro
        FROM grp g CROSS JOIN tot t WHERE g.xg > 0
    ), sums AS (
        SELECT (SELECT sum(x * lnr_micro) FROM terms) AS t_num,
               (SELECT sum(xg * lnr_micro) FROM gterms) AS b_num,
               (SELECT xs FROM tot) AS xs
    )
    SELECT {oracle_signed_ratio_round('t_num', 'xs * CAST(1000000 AS HUGEINT)')}
               AS theil_total,
           {oracle_signed_ratio_round('b_num', 'xs * CAST(1000000 AS HUGEINT)')}
               AS theil_between,
           {oracle_signed_ratio_round('t_num - b_num',
                                      'xs * CAST(1000000 AS HUGEINT)')}
               AS theil_within
    FROM sums
"""


@op(
    "theil_decomposition",
    oracle=_THEIL_SQL,
    tags=("stats", "inequality", "analytics"),
)
def theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality of customer revenue, DECOMPOSED into
    between-nation and within-nation components — the additive
    decomposition Gini lacks (gini_per_nation gives only within-group
    coefficients). Every term is weight*log with the log micro-rounded
    once and the weight denominator SHARED (total revenue X), so
    total, between, and within = total - between are three signed
    half-up divisions over exact integer sums — the decomposition
    identity holds EXACTLY, not approximately. Plan: customer rollup
    (one shuffle), nation rollup derived from it, 1-row total
    broadcast."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    d38 = "decimal(38,0)"
    cust = (
        o.join(c.select("c_custkey", "c_nationkey"), o.o_custkey == c.c_custkey)
        .groupBy("o_custkey", F.col("c_nationkey").alias("nation"))
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(28,6)") * 100).cast(d38)
            ).alias("x")
        )
    )
    tot = cust.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("xs"))
    terms = (
        cust.filter(F.col("x") > 0)
        .crossJoin(tot)
        .select(
            "x",
            F.round(
                F.log(F.col("n").cast("double") * F.col("x") / F.col("xs")) * 1000000
            )
            .cast("long")
            .alias("lnr_micro"),
        )
    )
    grp = cust.groupBy("nation").agg(
        F.count(F.lit(1)).alias("ng"), F.sum("x").alias("xg")
    )
    gterms = (
        grp.filter(F.col("xg") > 0)
        .crossJoin(tot)
        .select(
            "xg",
            F.round(
                F.log(
                    F.col("n").cast("double")
                    * F.col("xg")
                    / (F.col("ng").cast("double") * F.col("xs"))
                )
                * 1000000
            )
            .cast("long")
            .alias("lnr_micro"),
        )
    )
    t_num = terms.agg(
        F.sum(F.col("x") * F.col("lnr_micro")).alias("t_num")
    )
    b_num = gterms.agg(
        F.sum(F.col("xg") * F.col("lnr_micro")).alias("b_num")
    )
    sums = t_num.crossJoin(b_num).crossJoin(
        tot.select("xs")
    )
    den = F.col("xs") * F.lit(1000000).cast(d38)
    return sums.select(
        signed_ratio_round(F.col("t_num"), den).alias("theil_total"),
        signed_ratio_round(F.col("b_num"), den).alias("theil_between"),
        signed_ratio_round(F.col("t_num") - F.col("b_num"), den).alias(
            "theil_within"
        ),
    )


_WILSON_SQL = """
    WITH u AS (
        SELECT user_id, user_id % 2 AS variant,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    ), g AS (
        SELECT variant, count(*) AS n, sum(converted) AS x FROM u GROUP BY 1
    )
    SELECT CAST(variant AS INT) AS variant,
           CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS x,
           round((CAST(x AS DOUBLE) + 1.9208) / (n + 3.8416)
                 - (1.96 * sqrt((CAST(x AS DOUBLE) * (n - x)) / n + 0.9604))
                   / (n + 3.8416), 6) AS wilson_lo,
           round((CAST(x AS DOUBLE) + 1.9208) / (n + 3.8416)
                 + (1.96 * sqrt((CAST(x AS DOUBLE) * (n - x)) / n + 0.9604))
                   / (n + 3.8416), 6) AS wilson_hi
    FROM g
"""


@op(
    "wilson_intervals_conversion",
    oracle=_WILSON_SQL,
    tags=("stats", "experiment"),
)
def wilson_intervals_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% interval for each variant's conversion rate —
    the interval that behaves at 0% and 100% where the naive Wald
    interval collapses (this corpus converts every user, so the Wald
    interval would be the degenerate [p, p]; Wilson still yields a
    proper band). Inputs are exact integer counts; the closed form
    uses only IEEE-portable ops (+ * / sqrt) with z=1.96 constants
    written identically on both engines, rounded once at 6dp."""
    e = _t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("converted")
    ).select((F.col("user_id") % 2).alias("variant"), "converted")
    g = u.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("x")
    )
    xd = F.col("x").cast("double")
    nd = F.col("n")
    center = (xd + 1.9208) / (nd + 3.8416)
    half = (1.96 * F.sqrt((xd * (nd - F.col("x"))) / nd + 0.9604)) / (nd + 3.8416)
    return g.select(
        F.col("variant").cast("int").alias("variant"),
        F.col("n").cast("long").alias("n"),
        F.col("x").cast("long").alias("x"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    )


_FANO_SQL = f"""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS x
        FROM events GROUP BY 1, 2
    ), s AS (
        SELECT user_id, count(*) AS n, sum(x) AS sx, sum(x*x) AS sxx
        FROM daily GROUP BY 1 HAVING count(*) >= 2
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_active_days,
           CAST(sx AS BIGINT) AS n_events,
           {oracle_ratio_round(
               'CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx',
               'CAST(n AS HUGEINT)*sx')} AS fano_factor
    FROM s
"""


@op(
    "fano_burstiness_per_user",
    oracle=_FANO_SQL,
    tags=("timeseries", "stats", "behavior"),
)
def fano_burstiness_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (Fano factor) of each user's daily activity:
    variance-to-mean of per-day event counts over ACTIVE days —
    ~1 for Poisson-steady users, >>1 for bursty ones (the behavioral
    segmentation signal activity_entropy can't give, since entropy
    ignores over-dispersion). Pure integer identity
    (n*Sxx - Sx^2)/(n*Sx) — one half-up rational per user, two keyed
    aggregations sharing the user partitioning."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    d38 = "decimal(38,0)"
    s = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ).filter(F.col("n") >= 2)
    return s.select(
        "user_id",
        F.col("n").cast("long").alias("n_active_days"),
        F.col("sx").cast("long").alias("n_events"),
        ratio_round(
            F.col("n").cast(d38) * F.col("sxx") - F.col("sx").cast(d38) * F.col("sx"),
            F.col("n").cast(d38) * F.col("sx"),
        ).alias("fano_factor"),
    )


L_DIVERSITY = 2

from my_polars_ai_spark.operators.base import BALANCE_BAND_SQL as _BAND_SQL
from my_polars_ai_spark.operators.base import balance_band as _balance_band

_L_DIV_SQL = f"""
    WITH tagged AS (
        SELECT c_nationkey, c_mktsegment,
               {_BAND_SQL} AS balance_band
        FROM customer
    ), g AS (
        SELECT c_nationkey, c_mktsegment,
               count(*) AS group_size,
               count(DISTINCT balance_band) AS n_distinct_sensitive
        FROM tagged GROUP BY 1, 2
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(group_size AS BIGINT) AS group_size,
           CAST(n_distinct_sensitive AS BIGINT) AS n_distinct_sensitive,
           CAST(n_distinct_sensitive < {L_DIVERSITY} AS INT) AS violates_l
    FROM g
"""


@op(
    "l_diversity_audit",
    oracle=_L_DIV_SQL,
    tags=("governance", "privacy", "agg"),
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's stronger sibling
    (k_anonymity_audit passes a group whose members are all identical
    on the SENSITIVE attribute; that group still leaks it). Per
    (nation, segment) quasi-identifier class: size, number of distinct
    sensitive values (account-balance band), and a violates-l flag
    (< 2 distinct bands means membership discloses the band). Same
    bounded-QI-grid aggregation shape as the k audit; the distinct
    count is per-group bounded (3 bands)."""
    c = _t(spark, sf_dir, "customer")
    g = c.select(
        "c_nationkey", "c_mktsegment", _balance_band().alias("balance_band")
    ).groupBy(
        "c_nationkey", "c_mktsegment"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("group_size"),
        F.countDistinct("balance_band").cast("long").alias("n_distinct_sensitive"),
    )
    return g.select(
        "c_nationkey",
        "c_mktsegment",
        "group_size",
        "n_distinct_sensitive",
        (F.col("n_distinct_sensitive") < L_DIVERSITY).cast("int").alias("violates_l"),
    )


# t-closeness threshold: a QI class violates when the EMD between its
# sensitive-attribute distribution and the global one exceeds 1/5.
T_CLOSENESS_NUM, T_CLOSENESS_DEN = 1, 5

_T_CLOSE_SQL = f"""
    WITH tagged AS (
        SELECT c_nationkey, c_mktsegment,
               {_BAND_SQL} AS balance_band
        FROM customer
    ), g AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(count(*) AS HUGEINT) AS n_g,
               CAST(sum(CASE WHEN balance_band = 'negative' THEN 1 ELSE 0 END)
                    AS HUGEINT) AS b0,
               CAST(sum(CASE WHEN balance_band = 'low' THEN 1 ELSE 0 END)
                    AS HUGEINT) AS b1
        FROM tagged GROUP BY 1, 2
    ), tot AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(CASE WHEN balance_band = 'negative' THEN 1 ELSE 0 END)
                    AS HUGEINT) AS g0,
               CAST(sum(CASE WHEN balance_band = 'low' THEN 1 ELSE 0 END)
                    AS HUGEINT) AS g1
        FROM tagged
    ), emd AS (
        SELECT c_nationkey, c_mktsegment, n_g, n,
               abs(b0*n - g0*n_g) + abs((b0+b1)*n - (g0+g1)*n_g) AS emd_num
        FROM g CROSS JOIN tot
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(n_g AS BIGINT) AS group_size,
           {oracle_ratio_round("emd_num", "2*n_g*n")} AS emd,
           CAST({T_CLOSENESS_DEN}*emd_num > {T_CLOSENESS_NUM}*2*n_g*n AS INT)
               AS violates_t
    FROM emd
"""


@op(
    "t_closeness_audit",
    oracle=_T_CLOSE_SQL,
    tags=("governance", "privacy", "agg"),
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the strongest rung of the release-audit
    ladder (k_anonymity_audit bounds group SIZE, l_diversity_audit
    bounds distinct sensitive VALUES; both pass a group whose band mix
    is wildly skewed vs the population, which still leaks). Per
    (nation, segment) QI class: the exact Earth Mover's Distance
    between the class's ordered balance-band distribution
    (negative < low < high) and the global one — for an ordered
    attribute with unit ground distances, EMD = sum of |cumulative
    differences| / (m-1) — and a violates flag at t = 1/5. The EMD is
    an exact integer rational (|cum_g*N - cum_G*n_g| sums over the
    m-1 = 2 interior prefixes, halved and rounded once at emission;
    the flag compares the rational against t cross-multiplied, no
    rounding at all).

    Scale shape: identical to the k/l audits — one pass over customer
    into the bounded QI grid (25 nations x 5 segments), a 1-row global
    distribution broadcast onto it, and per-row integer arithmetic in
    DECIMAL(38,0) so the count products cannot overflow at any
    population size."""
    c = _t(spark, sf_dir, "customer")
    tagged = c.select(
        "c_nationkey", "c_mktsegment", _balance_band().alias("balance_band")
    )
    d38 = "decimal(38,0)"
    is0 = F.when(F.col("balance_band") == "negative", 1).otherwise(0)
    is1 = F.when(F.col("balance_band") == "low", 1).otherwise(0)
    g = tagged.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast(d38).alias("n_g"),
        F.sum(is0).cast(d38).alias("b0"),
        F.sum(is1).cast(d38).alias("b1"),
    )
    tot = tagged.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(is0).cast(d38).alias("g0"),
        F.sum(is1).cast(d38).alias("g1"),
    )
    emd_num = (
        F.abs(F.col("b0") * F.col("n") - F.col("g0") * F.col("n_g"))
        + F.abs(
            (F.col("b0") + F.col("b1")) * F.col("n")
            - (F.col("g0") + F.col("g1")) * F.col("n_g")
        )
    ).cast(d38)
    return (
        g.crossJoin(tot)
        .select(
            "c_nationkey",
            "c_mktsegment",
            F.col("n_g").cast("long").alias("group_size"),
            ratio_round(emd_num, 2 * F.col("n_g") * F.col("n")).alias("emd"),
            (
                T_CLOSENESS_DEN * emd_num
                > T_CLOSENESS_NUM * 2 * F.col("n_g") * F.col("n")
            )
            .cast("int")
            .alias("violates_t"),
        )
    )


PAYBACK_CENTS = 5000_00  # $5k cumulative per-user revenue = "paid back"

_PAYBACK_SQL = f"""
    WITH firsts AS (
        SELECT o_custkey,
               min(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE))
                   AS cohort_month
        FROM orders GROUP BY 1
    ), spend AS (
        SELECT f.cohort_month,
               (CAST(date_part('year', o.o_orderdate) AS INTEGER) * 12
                + CAST(date_part('month', o.o_orderdate) AS INTEGER))
               - (CAST(date_part('year', f.cohort_month) AS INTEGER) * 12
                  + CAST(date_part('month', f.cohort_month) AS INTEGER))
                   AS month_idx,
               CAST(CAST(o.o_totalprice AS DECIMAL(28,6)) * 100 AS HUGEINT) AS cents
        FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
    ), sizes AS (
        SELECT cohort_month, CAST(count(DISTINCT uid) AS HUGEINT) AS n_users
        FROM (SELECT o.o_custkey AS uid, f.cohort_month
              FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey) GROUP BY 1
    ), monthly AS (
        SELECT cohort_month, month_idx, sum(cents) AS cents
        FROM spend GROUP BY 1, 2
    ), cum AS (
        SELECT m.cohort_month, m.month_idx, s.n_users,
               sum(m.cents) OVER (PARTITION BY m.cohort_month
                                  ORDER BY m.month_idx
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum_cents
        FROM monthly m JOIN sizes s USING (cohort_month)
    )
    SELECT cohort_month,
           CAST(max(n_users) AS BIGINT) AS n_users,
           CAST(min(CASE WHEN cum_cents >= {PAYBACK_CENTS} * n_users
                         THEN month_idx END) AS INTEGER) AS payback_month
    FROM cum GROUP BY cohort_month
"""


@op(
    "cohort_payback_month",
    oracle=_PAYBACK_SQL,
    tags=("analytics", "finance", "cohort"),
)
def cohort_payback_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Months until each acquisition cohort's cumulative revenue reaches
    $5k per user — the payback-period read on the cohort_revenue_ltv
    curve (NULL payback = cohort never recovers its cost proxy within
    the observed window; the argmin-over-cumsum pattern). The cumulative
    window is partitioned per cohort over MONTH indices
    (calendar-bounded ~84 rows/cohort); user-level data never enters a
    window. Integer cents end to end."""
    o = _t(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.trunc("o_orderdate", "month")).alias("cohort_month")
    )
    month_idx = (
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        - (F.year("cohort_month") * 12 + F.month("cohort_month"))
    ).cast("int")
    cents = (F.col("o_totalprice").cast("decimal(28,6)") * 100).cast("decimal(38,0)")
    joined = o.join(firsts, "o_custkey")
    # firsts is already one row per customer: cohort size is a plain
    # count there — no countDistinct over the order-grain join
    sizes = firsts.groupBy("cohort_month").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_users")
    )
    monthly = joined.groupBy(
        "cohort_month", month_idx.alias("month_idx")
    ).agg(F.sum(cents).alias("cents"))
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("month_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = monthly.join(sizes, "cohort_month").select(
        "cohort_month",
        "month_idx",
        "n_users",
        F.sum("cents").over(w).alias("cum_cents"),
    )
    return cum.groupBy("cohort_month").agg(
        F.max("n_users").cast("long").alias("n_users"),
        F.min(
            F.when(
                F.col("cum_cents") >= F.lit(PAYBACK_CENTS) * F.col("n_users"),
                F.col("month_idx"),
            )
        ).cast("int").alias("payback_month"),
    )


_LOO_SQL = f"""
    WITH c AS (
        SELECT n.n_name,
               CAST(CAST(c_acctbal AS DECIMAL(28,6)) * 100 AS HUGEINT) AS cents
        FROM customer JOIN nation n ON c_nationkey = n_nationkey
    ), g AS (
        SELECT n_name, CAST(count(*) AS HUGEINT) AS n, sum(cents) AS s
        FROM c GROUP BY 1
    ), t AS (
        SELECT sum(n) AS nn, sum(s) AS ss FROM g
    )
    SELECT g.n_name, CAST(g.n AS BIGINT) AS n_customers,
           {oracle_signed_ratio_round('t.ss - g.s', 't.nn - g.n', 2)} AS loo_mean_cents,
           {oracle_signed_ratio_round(
               'g.n * t.ss - t.nn * g.s', 't.nn * (t.nn - g.n)', 2)}
               AS influence_cents
    FROM g CROSS JOIN t
"""


@op("loo_nation_mean_influence", oracle=_LOO_SQL, tags=("stats", "influence", "agg"))
def loo_nation_mean_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-GROUP-out influence: how much the global mean customer
    balance moves when each nation is excluded — the jackknife-style
    sensitivity diagnostic ('is the KPI a property of the corpus or of
    one contributor?') that generalizes to any distributive metric.
    influence = loo_mean - global_mean collapses to the single exact
    signed rational (n_g*S - N*s_g)/(N*(N-n_g)) — no subtraction of
    two separately-rounded means, so the sign is exact even for tiny
    influences. One groupBy + one 1-row broadcast; the per-nation
    arithmetic is dimension-bounded."""
    cu = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = cu.join(n, cu.c_nationkey == n.n_nationkey).select(
        "n_name",
        (F.col("c_acctbal").cast("decimal(28,6)") * 100)
        .cast("decimal(38,0)")
        .alias("cents"),
    )
    g = c.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("cents").alias("s"),
    )
    t = g.agg(F.sum("n").alias("nn"), F.sum("s").alias("ss"))
    return g.crossJoin(t).select(
        "n_name",
        F.col("n").cast("long").alias("n_customers"),
        signed_ratio_round(F.col("ss") - F.col("s"), F.col("nn") - F.col("n"), 2).alias(
            "loo_mean_cents"
        ),
        signed_ratio_round(
            F.col("n") * F.col("ss") - F.col("nn") * F.col("s"),
            F.col("nn") * (F.col("nn") - F.col("n")),
            2,
        ).alias("influence_cents"),
    )


_SNAPCOL_SQL = """
    WITH c AS (
        SELECT c_custkey, round(c_acctbal, 2) AS bal, c_mktsegment AS seg,
               c_nationkey AS nat
        FROM customer
    ), new AS (
        SELECT c_custkey,
               round(CASE WHEN c_custkey % 7 = 0 THEN bal + 50.0 ELSE bal END, 2)
                   AS bal,
               CASE WHEN c_custkey % 5 = 0 THEN 'MOVED' ELSE seg END AS seg,
               CASE WHEN c_custkey % 9 = 0 THEN (nat + 1) % 25 ELSE nat END
                   AS nat
        FROM c
    ), j AS (
        SELECT o.c_custkey,
               CASE WHEN o.bal IS DISTINCT FROM n.bal THEN 1 ELSE 0 END AS d_bal,
               CASE WHEN o.seg IS DISTINCT FROM n.seg THEN 1 ELSE 0 END AS d_seg,
               CASE WHEN o.nat IS DISTINCT FROM n.nat THEN 1 ELSE 0 END AS d_nat
        FROM c o JOIN new n USING (c_custkey)
    )
    SELECT col, CAST(n_changed AS BIGINT) AS n_changed,
           CAST(n_rows AS BIGINT) AS n_rows
    FROM (
        SELECT 'bal' AS col, sum(d_bal) AS n_changed, count(*) AS n_rows FROM j
        UNION ALL
        SELECT 'seg', sum(d_seg), count(*) FROM j
        UNION ALL
        SELECT 'nat', sum(d_nat), count(*) FROM j
    )
"""


@op("snapshot_diff_columns", oracle=_SNAPCOL_SQL, tags=("cdc", "diff", "agg"))
def snapshot_diff_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN-level CDC drill-down: which columns actually changed
    between two snapshot versions, and how often — the question after
    snapshot_diff says a row 'changed' ('is it the balance feed or the
    segment re-map?' routes the incident). The synthetic new snapshot
    perturbs three columns on different key residues so every column's
    count is exercised; comparisons are null-safe (IS DISTINCT FROM),
    the join is ONE key-partitioned equi-join, and the per-column
    rollup is a 3-row stack of conditional sums — one pass, no
    per-column re-joins."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("bal"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
    )
    new = c.select(
        "c_custkey",
        F.round(
            F.when(F.col("c_custkey") % 7 == 0, F.col("bal") + 50.0).otherwise(
                F.col("bal")
            ),
            2,
        ).alias("bal"),
        F.when(F.col("c_custkey") % 5 == 0, "MOVED").otherwise(F.col("seg")).alias("seg"),
        F.when(F.col("c_custkey") % 9 == 0, (F.col("nat") + 1) % 25)
        .otherwise(F.col("nat"))
        .alias("nat"),
    )
    o = c.alias("o")
    n = new.alias("n")
    j = o.join(n, "c_custkey").select(
        (~F.col("o.bal").eqNullSafe(F.col("n.bal"))).cast("int").alias("d_bal"),
        (~F.col("o.seg").eqNullSafe(F.col("n.seg"))).cast("int").alias("d_seg"),
        (~F.col("o.nat").eqNullSafe(F.col("n.nat"))).cast("int").alias("d_nat"),
    )
    agg = j.agg(
        F.sum("d_bal").alias("bal"),
        F.sum("d_seg").alias("seg"),
        F.sum("d_nat").alias("nat"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return agg.selectExpr(
        "stack(3, 'bal', bal, 'seg', seg, 'nat', nat) as (col, n_changed)",
        "n_rows",
    ).select(
        "col", F.col("n_changed").cast("long"), F.col("n_rows").cast("long")
    )


_TOPN_CONC_N = 10

_TOPN_CONC_SQL = f"""
    WITH cust AS (
        SELECT o_custkey,
               sum(CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100 AS HUGEINT))
                   AS cents
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents DESC, o_custkey ASC) AS r
        FROM cust
    ), s AS (
        SELECT sum(CASE WHEN r <= {_TOPN_CONC_N} THEN cents ELSE 0 END) AS top,
               sum(cents) AS total,
               CAST(count(*) AS BIGINT) AS n_customers
        FROM ranked
    )
    SELECT n_customers,
           CAST(top AS BIGINT) AS top{_TOPN_CONC_N}_cents,
           CAST(total AS BIGINT) AS total_cents,
           {oracle_ratio_round('top', 'total')} AS top{_TOPN_CONC_N}_share
    FROM s
"""


@op("revenue_concentration_topn", oracle=_TOPN_CONC_SQL, tags=("finance", "concentration", "agg"))
def revenue_concentration_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-concentration KPI: the share of total revenue held by
    the top-10 customers — the 'key-account risk' number next to
    brand_supplier_hhi (HHI summarizes the whole distribution; top-N
    share is what the board asks for) and the customer-side complement
    of abc_part_classification. Exact integer cents throughout; the
    rank runs over the customer-grain aggregate (dimension-bounded,
    deterministic tie-break), and the share is one half-up rational.
    One fact groupBy + one bounded rank + a 1-row reduce."""
    o = _t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(28,6)") * 100).cast("decimal(38,0)")
        ).alias("cents")
    )
    w = Window.orderBy(F.desc("cents"), F.asc("o_custkey"))
    ranked = cust.withColumn("r", F.row_number().over(w))
    s = ranked.agg(
        F.sum(
            F.when(F.col("r") <= _TOPN_CONC_N, F.col("cents")).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("top"),
        F.sum("cents").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_customers"),
    )
    return s.select(
        "n_customers",
        F.col("top").cast("long").alias(f"top{_TOPN_CONC_N}_cents"),
        F.col("total").cast("long").alias("total_cents"),
        ratio_round(F.col("top"), F.col("total")).alias(f"top{_TOPN_CONC_N}_share"),
    )


_ENDINGS_SQL = """
    WITH c AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100 AS HUGEINT) % 100
                   AS ending
        FROM orders
    )
    SELECT CAST(ending AS INT) AS cents_ending,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM c GROUP BY ending
"""


@op("price_endings_hist", oracle=_ENDINGS_SQL, tags=("finance", "audit", "histogram"))
def price_endings_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of the cents ENDING (last two digits) of order
    totals — the pricing-forensics companion to benford_first_digit:
    human-set prices pile up on .99/.95/.00, rule-generated or
    fabricated ones spread uniformly, and a migration that re-rounds
    currency shows up as mass teleporting between endings. Exact
    integer cents modulo; one map-side-combined aggregation to the
    <=100-row grid."""
    o = _t(spark, sf_dir, "orders")
    ending = (
        (F.col("o_totalprice").cast("decimal(28,6)") * 100).cast("decimal(38,0)")
        % 100
    )
    return (
        o.select(ending.cast("int").alias("cents_ending"))
        .groupBy("cents_ending")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )


# Rendezvous sharding: RDZV_SHARDS (defined in base.py, shared with
# dedup.cross_shard_dup_rate) is the current shard count; the plan
# reports the rebalance delta to RDZV_SHARDS + 1.

_RDZV_SQL = f"""
    WITH h AS (
        SELECT doc_id,
               list_transform(range(0, {RDZV_SHARDS + 1}), s ->
                   ('0x' || substr(md5(doc_id::VARCHAR || ':' || s::VARCHAR), 1, 15))::BIGINT
               ) AS hv
        FROM documents
    ), sh AS (
        SELECT doc_id,
               list_indexof(hv[1:{RDZV_SHARDS}], list_max(hv[1:{RDZV_SHARDS}])) - 1 AS shard_cur,
               list_indexof(hv, list_max(hv)) - 1 AS shard_next
        FROM h
    )
    SELECT shard_cur,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN shard_cur != shard_next THEN 1 ELSE 0 END) AS BIGINT)
               AS n_moved,
           CAST(sum(CASE WHEN shard_cur != shard_next
                          AND shard_next != {RDZV_SHARDS} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_moved_elsewhere,
           {oracle_ratio_round("sum(CASE WHEN shard_cur != shard_next THEN 1 ELSE 0 END)", "count(*)")}
               AS moved_frac
    FROM sh GROUP BY shard_cur
"""


@op(
    "rendezvous_shard_plan",
    oracle=_RDZV_SQL,
    tags=("layout", "sharding", "scale"),
)
def rendezvous_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding plan WITH its
    expansion audit — the stable data-layout assignment an incremental
    100 TB pipeline needs: hash-mod sharding moves ~(N-1)/N of all
    rows when N grows by one, while rendezvous (each doc goes to the
    shard whose weight h(doc,shard) is highest) moves EXACTLY the
    docs the new shard wins, ~1/(N+1) of the corpus, and moves them
    ONLY to the new shard. The op computes each doc's assignment under
    {RDZV_SHARDS} and {RDZV_SHARDS}+1 shards in one narrow map (the
    per-doc weight list is a bounded higher-order transform; argmax by
    list position of the max) and reports, per current shard: doc
    count, docs that move on expansion, docs that move ANYWHERE OTHER
    than the new shard (provably zero — the minimal-disruption
    guarantee is itself part of the oracle-checked output), and the
    moved fraction (~1/9). Zero joins, one bounded aggregation; the
    portable md5 weight family makes both engines assign identically."""
    from my_polars_ai_spark.operators.dedup import portable_hash60

    d = _t(spark, sf_dir, "documents")
    hv = F.transform(
        F.sequence(F.lit(0), F.lit(RDZV_SHARDS)),
        lambda s: portable_hash60(
            F.concat(F.col("doc_id").cast("string"), F.lit(":"), s.cast("string"))
        ),
    )
    h = d.select("doc_id", hv.alias("hv"))
    cur_l = F.slice("hv", 1, RDZV_SHARDS)
    sh = h.select(
        (F.array_position(cur_l, F.array_max(cur_l)) - 1).alias("shard_cur"),
        (F.array_position("hv", F.array_max("hv")) - 1).alias("shard_next"),
    )
    moved = (F.col("shard_cur") != F.col("shard_next")).cast("long")
    moved_elsewhere = (
        (F.col("shard_cur") != F.col("shard_next"))
        & (F.col("shard_next") != RDZV_SHARDS)
    ).cast("long")
    return sh.groupBy("shard_cur").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(moved).alias("n_moved"),
        F.sum(moved_elsewhere).alias("n_moved_elsewhere"),
        ratio_round(
            F.sum(moved).cast("decimal(38,0)"),
            F.count(F.lit(1)).cast("decimal(38,0)"),
        ).alias("moved_frac"),
    )


# ---------------------------------------------------------------------------
# Join-view delta maintenance: the bilinear identity
# ---------------------------------------------------------------------------

# Portable row-level delta flags (~10% of each side, independent): an
# order row and a line row go "newly arrived" by md5 of their own key.
_DJ_A = "('0x' || substr(md5('dja:' || o_orderkey::VARCHAR), 1, 15))::BIGINT % 10 = 0"
_DJ_L = (
    "('0x' || substr(md5('djl:' || l_orderkey::VARCHAR || ':' ||"
    " l_linenumber::VARCHAR), 1, 15))::BIGINT % 10 = 0"
)

_DJV_SQL = f"""
    WITH j AS (
        SELECT o.o_orderpriority,
               CAST(CAST(l.l_extendedprice AS DECIMAL(28,6)) * 100 AS HUGEINT)
                   AS cents,
               ({_DJ_A}) AS da,
               ({_DJ_L}) AS dl
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN NOT da AND NOT dl THEN cents ELSE 0 END)
                AS BIGINT) AS base_cents,
           CAST(sum(CASE WHEN da OR dl THEN cents ELSE 0 END)
                AS BIGINT) AS delta_cents,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM j GROUP BY 1
"""


@op(
    "delta_join_view_maintenance",
    oracle=_DJV_SQL,
    tags=("join", "incremental", "scale-pattern"),
)
def delta_join_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view when BOTH inputs receive
    deltas — the bilinear identity Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪
    ΔA⋈ΔB that incremental_rollup_maintenance's agg-merge algebra
    doesn't cover (aggregates merge linearly; joins don't). The
    revenue-by-priority view over orders⋈lineitem updates by computing
    exactly the three delta join terms and adding them to the stored
    base view; the oracle is the full recompute, so the green hash IS
    the proof the identity holds term-for-term (base/delta columns
    split the ledger). At 100 TB the payoff is that no delta term ever
    joins base-to-base: ΔA⋈B and A⋈ΔB are delta-sized probe joins
    (DPP/bucketing keep the big side's scan pruned), ΔA⋈ΔB is
    delta x delta. Deterministic ~10% row-level deltas via the
    portable md5 flag on each side's own key."""
    from my_polars_ai_spark.operators.dedup import portable_hash60

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        (
            portable_hash60(F.concat(F.lit("dja:"), F.col("o_orderkey").cast("string")))
            % 10
            == 0
        ).alias("da"),
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_extendedprice").cast("decimal(28,6)") * 100)
        .cast("decimal(38,0)")
        .alias("cents"),
        (
            portable_hash60(
                F.concat(
                    F.lit("djl:"),
                    F.col("l_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("l_linenumber").cast("string"),
                )
            )
            % 10
            == 0
        ).alias("dl"),
    )
    ob, od = o.filter(~F.col("da")), o.filter(F.col("da"))
    lb, ld = li.filter(~F.col("dl")), li.filter(F.col("dl"))

    def view(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.join(b, a.o_orderkey == b.l_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
                F.sum("cents").alias("c"),
            )
        )

    # stored base term + the three delta terms of the bilinear identity
    base = view(ob, lb)
    deltas = view(od, lb).unionByName(view(ob, ld)).unionByName(view(od, ld))
    dsum = deltas.groupBy("o_orderpriority").agg(
        F.sum("n").alias("dn"), F.sum("c").alias("dc")
    )
    return (
        base.join(dsum, "o_orderpriority", "full")
        .select(
            "o_orderpriority",
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0)))
            .cast("long")
            .alias("n_lines"),
            F.coalesce("c", F.lit(0)).cast("long").alias("base_cents"),
            F.coalesce("dc", F.lit(0)).cast("long").alias("delta_cents"),
            (F.coalesce("c", F.lit(0)) + F.coalesce("dc", F.lit(0)))
            .cast("long")
            .alias("total_cents"),
        )
    )


_OBSERVED_SQL = """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents,
           CAST(count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT)
               AS n_returned,
           CAST(max(l_quantity) AS BIGINT) AS max_qty
    FROM lineitem
    WHERE l_discount > 0.02
"""


@op(
    "observed_scan_metrics",
    oracle=_OBSERVED_SQL,
    tags=("scale-pattern", "monitoring", "agg"),
)
def observed_scan_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline metrics via ``df.observe`` (the Observation API) — the
    100 TB monitoring pattern this repo's other ops don't exhibit: a
    production job must report row counts / revenue totals / data-quality
    tallies, and a SEPARATE metrics query would re-scan the input. With
    an Observation attached, the metrics accumulate ON the main job's
    single pass (named accumulators merged task-side, zero extra scans,
    zero extra shuffles) and are read on the driver after the action.

    Here the 'main job' is a noop-sink write of the filtered scan; the
    observed metrics then surface as a 1-row DataFrame so the same
    numbers are oracle-checked like every other op. Money is observed
    in exact integer cents (per-row round BEFORE the sum — the
    repo-wide float discipline)."""
    from pyspark.sql import Observation

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.02)
    obs = Observation("scan_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
            "revenue_cents"
        ),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_returned"),
        F.max("l_quantity").cast("bigint").alias("max_qty"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["revenue_cents"], m["n_returned"], m["max_qty"])],
        "n_rows bigint, revenue_cents bigint, n_returned bigint, max_qty bigint",
    )


# ---------------------------------------------------------------------------
# Zone-map prune effectiveness: at 100 TB the fastest scan is the one
# that never happens — data-skipping via per-file min/max statistics
# (parquet row-group stats, Delta/Iceberg file stats) is the mechanism.
# This op materializes the zone maps at a month-partition "file" grain
# and evaluates a concrete range predicate against them, so the pruned
# fraction (and the soundness of skipping) is itself oracle-checked.

PRUNE_LO, PRUNE_HI = 100_000, 150_000

_ZONEMAP_SQL = f"""
    SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
               AS file_month,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price,
           CAST(max(o_totalprice) < {PRUNE_LO}
                OR min(o_totalprice) > {PRUNE_HI} AS INT) AS can_skip,
           CAST(sum(CASE WHEN o_totalprice BETWEEN {PRUNE_LO} AND {PRUNE_HI}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_match
    FROM orders
    GROUP BY 1
"""


@op(
    "zonemap_prune_stats",
    oracle=_ZONEMAP_SQL,
    tags=("layout", "scale", "scan", "report"),
)
def zonemap_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (file-statistics) prune report: per month-partition
    "file" of orders, the min/max/count statistics a lakehouse format
    keeps per file, the can-skip verdict for the literal range
    predicate o_totalprice in [PRUNE_LO, PRUNE_HI], and the actual
    match count — so the report both PLANS the scan (which files are
    skipped) and PROVES the skipping sound (a skippable file must have
    zero matches; the test checks that identity on every row). min/max
    pass input values through untouched — no arithmetic, no rounding
    boundary.

    Scale shape: ONE map-side-combined aggregate at the file grain
    (calendar-bounded output); this is the stats-collection pass a
    table format runs at write time, and the skip evaluation is
    per-file constant work. The same predicate pushed to the parquet
    scan is what `.explain`'s PushedFilters shows — this op makes the
    effectiveness measurable instead of assumed."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_trunc("month", F.to_date("o_orderdate"))
            .cast("date")
            .alias("file_month")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            (
                (F.max("o_totalprice") < PRUNE_LO)
                | (F.min("o_totalprice") > PRUNE_HI)
            )
            .cast("int")
            .alias("can_skip"),
            F.sum(
                F.col("o_totalprice").between(PRUNE_LO, PRUNE_HI).cast("long")
            )
            .cast("long")
            .alias("n_match"),
        )
    )


# ---------------------------------------------------------------------------
# Auto-salting plan: the treatment step between key_skew_profile (the
# diagnosis) and join_salted_skew (the mechanism). TARGET is the
# rows-per-key budget a single shuffle task should carry.

SALT_TARGET_ROWS = 256

_SALT_PLAN_SQL = f"""
    WITH counts AS (
        SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1
    ), plan AS (
        SELECT l_suppkey, n,
               (n + {SALT_TARGET_ROWS} - 1) // {SALT_TARGET_ROWS} AS salt_factor
        FROM counts
    )
    SELECT l_suppkey, n,
           CAST(salt_factor AS BIGINT) AS salt_factor,
           CAST((n + salt_factor - 1) // salt_factor AS BIGINT) AS rows_per_salt,
           CAST(salt_factor > 1 AS INT) AS needs_salt
    FROM plan
"""


@op(
    "salting_plan",
    oracle=_SALT_PLAN_SQL,
    tags=("profiling", "skew", "scale", "layout"),
)
def salting_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key auto-salting plan: for every join/agg key, the salt
    factor ceil(n / SALT_TARGET_ROWS) that caps any single salted
    partition at the per-task row budget, the resulting worst-case
    rows-per-salt, and the needs-salt bit. This is the table an
    auto-skew-handling layer computes before rewriting a join as
    `join_salted_skew` does by hand (and what AQE's runtime skew split
    derives from shuffle statistics after the fact — planning it from
    the key histogram moves the decision before the shuffle).
    ceil-division via exact integer (n + f - 1) // f on both engines —
    no rounding boundary.

    Scale shape: one map-side-combined count at the KEY grain, then
    per-row integer arithmetic; output is key-cardinality-sized, and
    the plan joins back to the fact table by key (broadcast when the
    hot-key set is small, which is the point of skew)."""
    li = _t(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    f_ = exact_floor_div(
        F.col("n") + (SALT_TARGET_ROWS - 1), F.lit(SALT_TARGET_ROWS)
    )
    plan = counts.select("l_suppkey", "n", f_.cast("long").alias("salt_factor"))
    return plan.select(
        "l_suppkey",
        "n",
        "salt_factor",
        exact_floor_div(
            F.col("n") + F.col("salt_factor") - 1, F.col("salt_factor")
        )
        .cast("long")
        .alias("rows_per_salt"),
        (F.col("salt_factor") > 1).cast("int").alias("needs_salt"),
    )
