"""Window functions: ranking, lag/lead, running aggregates, rolling
windows, sessionization (SURVEY.md §2b window/time-series rows).

Reference evidence: rolling mean/median/std shortcuts (reference
helpers/shortcuts.py:295-352 — trailing row-frame semantics) and the
Polars expression API (rank/shift/cumsum) reachable from the sandbox.

Scale notes: every window here is partitioned by a high-cardinality key
(custkey / user_id) — state per partition stays bounded and the single
shuffle is on the partition key. Unpartitioned windows (percent_rank over
the whole table) are flagged: they serialize into one partition and are
only for dim-sized inputs; the scale path for global ranks is sort-based
(zipWithIndex-style) or approximate quantiles.

Float discipline: windowed averages/stddevs are rounded at scale 4
(ROUND_WIN) — DuckDB computes sliding aggregates via segment trees while
Spark re-aggregates the frame, so the two accumulate different last-ulp
error; scale-4 rounding absorbs it for value magnitudes here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_polars_ai_spark.operators.base import (
    ROUND_RATIO,
    Op,
    exact_floor_div,
    make_registrar,
    oracle_ratio_round,
    ratio_round,
)
from my_polars_ai_spark.sources.tables import load_table as _t

OPS: dict[str, Op] = {}
op = make_registrar(OPS)

ROUND_WIN = 4

# Deterministic per-user event ordering (ts can tie; event_id is unique).
_EVENT_ORDER = "ORDER BY ts, event_id"


@op(
    "window_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
    tags=("window", "topk"),
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via row_number — the scalable top-k-per-key
    pattern (one shuffle on the key, per-partition sort)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@op(
    "window_lag_lead",
    oracle=f"""
    SELECT user_id, event_id,
           round(value - lag(value) OVER w, {ROUND_RATIO}) AS delta_value,
           lead(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id {_EVENT_ORDER})
    """,
    tags=("window", "lag"),
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over per-user event streams (Polars shift surface)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.round(F.col("value") - F.lag("value").over(w), ROUND_RATIO).alias("delta_value"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@op(
    "window_running_agg",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 {ROUND_WIN}) AS running_spend,
           row_number() OVER wp AS rn,
           rank() OVER wv AS price_rank,
           dense_rank() OVER wv AS price_dense_rank
    FROM orders
    WINDOW wp AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           wv AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC)
    """,
    tags=("window", "rank", "cumsum"),
)
def window_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + rank family per key (Polars cumsum/rank surface)."""
    o = _t(spark, sf_dir, "orders")
    wp = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wv = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(wp.rowsBetween(Window.unboundedPreceding, 0)), ROUND_WIN
        ).alias("running_spend"),
        F.row_number().over(wp).alias("rn"),
        F.rank().over(wv).alias("price_rank"),
        F.dense_rank().over(wv).alias("price_dense_rank"),
    )


@op(
    "rolling_mean_std",
    oracle=f"""
    SELECT user_id, event_id,
           round(avg(value) OVER w, {ROUND_WIN}) AS roll_mean,
           round(coalesce(stddev_samp(value) OVER w, 0.0), {ROUND_WIN}) AS roll_std
    FROM events
    WINDOW w AS (PARTITION BY user_id {_EVENT_ORDER}
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "rolling"),
)
def rolling_mean_std(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-row rolling mean/std per user — the reference's
    rolling_mean / rolling_std shortcut semantics (reference
    helpers/shortcuts.py:295-312, 335-352: trailing row frame)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-6, 0)
    return e.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w), ROUND_WIN).alias("roll_mean"),
        F.round(F.coalesce(F.stddev_samp("value").over(w), F.lit(0.0)), ROUND_WIN).alias("roll_std"),
    )


@op(
    "rolling_median",
    oracle=f"""
    SELECT user_id, event_id,
           round(quantile_cont(value, 0.5) OVER w, {ROUND_WIN}) AS roll_median
    FROM events
    WINDOW w AS (PARTITION BY user_id {_EVENT_ORDER}
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "rolling"),
)
def rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-row rolling median (reference helpers/shortcuts.py:314-333).

    Spark bans median/percentile with a window frame, so the frame's values
    are gathered with collect_list (bounded: 7 rows) and the interpolated
    median is computed from the sorted array — exact, matching DuckDB's
    quantile_cont. For unbounded frames at 100 TB use percentile_approx.
    """
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-6, 0)
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    mid_hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    mid_even = (F.element_at(arr, (n / 2).cast("int")) + mid_hi) / 2
    median = F.when(n % 2 == 1, F.element_at(arr, ((n + 1) / 2).cast("int"))).otherwise(mid_even)
    return e.select(
        "user_id",
        "event_id",
        F.round(median, ROUND_WIN).alias("roll_median"),
    )


@op(
    "sessionize_gap",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id {_EVENT_ORDER})
                         > INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id {_EVENT_ORDER}) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id {_EVENT_ORDER}
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           min(ts) AS session_start,
           count(*) AS n_events,
           round(sum(value), {ROUND_WIN}) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    tags=("window", "session"),
)
def sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + cumulative sum of
    session-start flags, then per-session aggregation. The batch twin of
    streaming session_window (see timeseries.session_window_batch)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_session = F.when(gap_s.isNull() | (gap_s > 30 * 60), 1).otherwise(0)
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        e.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(cum).cast("bigint"))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), ROUND_WIN).alias("sum_value"),
        )
    )


@op(
    "percent_rank_cume_dist",
    oracle=f"""
    SELECT c_custkey,
           round(percent_rank() OVER (ORDER BY c_acctbal), {ROUND_RATIO}) AS pr,
           round(cume_dist() OVER (ORDER BY c_acctbal), {ROUND_RATIO}) AS cd,
           ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
    FROM customer
    """,
    tags=("window", "rank"),
)
def percent_rank_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global distribution ranks. NOTE: an unpartitioned window funnels all
    rows through one task — acceptable for dim-sized tables only; at fact
    scale use approx quantiles or a range-partitioned sort instead."""
    c = _t(spark, sf_dir, "customer")
    w = Window.orderBy("c_acctbal")
    wt = Window.orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        F.round(F.percent_rank().over(w), ROUND_RATIO).alias("pr"),
        F.round(F.cume_dist().over(w), ROUND_RATIO).alias("cd"),
        F.ntile(4).over(wt).alias("quartile"),
    )


_PR_BELOW_ORACLE = oracle_ratio_round("below", "n_total - 1")


@op(
    "percent_rank_approx",
    oracle=f"""
    WITH b AS (
        SELECT c_custkey, CAST(floor(c_acctbal / 100) AS BIGINT) AS bucket
        FROM customer
    ), hist AS (
        SELECT bucket, count(*) AS n_b FROM b GROUP BY bucket
    ), cum AS (
        SELECT bucket,
               COALESCE(CAST(sum(n_b) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
                   0) AS below
        FROM hist
    ), tot AS (
        SELECT count(*) AS n_total FROM b
    )
    SELECT b.c_custkey, b.bucket, {_PR_BELOW_ORACLE} AS pr_approx
    FROM b JOIN cum USING (bucket) CROSS JOIN tot
    """,
    tags=("window", "rank", "approx"),
)
def percent_rank_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe twin of percent_rank_cume_dist: bucketed approximate
    percent_rank. Rows hash into fixed $100 acctbal buckets (map-side
    partial agg); the only window runs over the ~110-row bucket histogram,
    never the table, and rows rejoin their bucket's below-count via a
    broadcast join — no global single-partition sort at any size.
    pr_approx = (#rows in strictly lower buckets) / (N-1), i.e. exact
    percent_rank computed at bucket granularity (error <= bucket mass/N).
    """
    c = _t(spark, sf_dir, "customer")
    rows = c.select(
        "c_custkey", F.floor(F.col("c_acctbal") / 100).cast("long").alias("bucket")
    )
    hist = rows.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_b"))
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "bucket", F.coalesce(F.sum("n_b").over(w_cum), F.lit(0)).cast("long").alias("below")
    )
    tot = rows.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        rows.join(cum, "bucket")
        .crossJoin(tot)
        .select(
            "c_custkey",
            "bucket",
            ratio_round(F.col("below"), F.col("n_total") - 1).alias("pr_approx"),
        )
    )


@op(
    "ntile_quartiles",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           CAST(ntile(4) OVER (PARTITION BY c_nationkey
                               ORDER BY c_acctbal, c_custkey) AS INTEGER) AS quartile
    FROM customer
    """,
    tags=("window", "rank"),
)
def ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) balance quartiles within each nation — the remaining
    ranking function after rank/dense_rank/percent_rank/cume_dist. The
    window is keyed on c_nationkey (one shuffle, per-key sort); the
    c_custkey tiebreak makes bucket assignment deterministic on both
    engines (ntile splits ties by position, not value)."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


@op(
    "rolling_range_7d",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(o_orderdate AS DATE) AS o_day,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
               PARTITION BY o_custkey
               ORDER BY datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               RANGE BETWEEN 7 PRECEDING AND CURRENT ROW
           ), 2) AS DOUBLE) AS spend_7d,
           CAST(count(*) OVER (
               PARTITION BY o_custkey
               ORDER BY datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               RANGE BETWEEN 7 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_orders_7d
    FROM orders
    """,
    tags=("window", "rolling", "range"),
)
def rolling_range_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-DAY spend per customer — a VALUE-range frame
    (rangeBetween on epoch days), not a row-count frame: gaps in the
    order history shrink the window, same-day orders are peers, so the
    result is deterministic without any tiebreak. One shuffle on
    o_custkey, per-partition sort, O(1) running state per row. The sum
    runs over exact DECIMAL(28,6) so partial-order differences between
    engines can't flip the rounding (operators/base.py convention)."""
    o = _t(spark, sf_dir, "orders")
    days = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(days)
        .rangeBetween(-7, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.to_date("o_orderdate").alias("o_day"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(28,6)")).over(w), 2)
        .cast("double")
        .alias("spend_7d"),
        F.count(F.lit(1)).over(w).alias("n_orders_7d"),
    )


@op(
    "first_last_nth_value",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           first_value(l_partkey) OVER w AS first_part,
           last_value(l_partkey) OVER w AS last_part,
           nth_value(l_partkey, 2) OVER w AS second_part
    FROM lineitem
    WINDOW w AS (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_partkey, l_suppkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("window", "navigation"),
)
def first_last_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation functions over a full-partition frame: first/last/2nd
    part per order under a total ordering. The explicit UNBOUNDED
    FOLLOWING frame matters twice — last_value under the default frame is
    the running current row (a classic silent bug), and the full frame is
    what both engines agree on. One shuffle on the order key."""
    li = _t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_partkey", "l_suppkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.first("l_partkey").over(w).alias("first_part"),
        F.last("l_partkey").over(w).alias("last_part"),
        F.nth_value("l_partkey", 2).over(w).alias("second_part"),
    )


# Anchor for relative-microsecond arithmetic in rolling_trend_slope:
# epoch_us of 2024-01-01 (the corpus starts 2024-01-01; relative times
# keep every windowed product inside 63 bits).
TREND_ANCHOR_US = 1_704_067_200_000_000


@op(
    "rolling_trend_slope",
    oracle=f"""
    WITH v AS (
        SELECT user_id, event_id, ts,
               (epoch_us(ts) - {TREND_ANCHOR_US}) // 1000 AS t_ms,
               CAST(CAST(value AS DECIMAL(28,6)) * 100 AS HUGEINT) AS cents
        FROM events
    )
    SELECT user_id, event_id,
           CAST(count(*) OVER w * sum(t_ms * cents) OVER w
                - sum(t_ms) OVER w * sum(cents) OVER w AS BIGINT) AS slope_num
    FROM v
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "rolling", "timeseries"),
)
def rolling_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling regression-slope numerator per user over the trailing 5
    events: n*sum(t*v) - sum(t)*sum(v) — the sign/magnitude of the local
    trend, the windowed statistic behind 'is this metric rising?'
    alerting. Everything is exact integer arithmetic: time as
    MILLIseconds relative to the corpus epoch (see the resolution note
    below), value in cents via the DECIMAL cast, windowed sums in
    DECIMAL(38,0) so no product can overflow — which makes even a
    regression statistic hash-comparable across engines. One keyed
    window = one shuffle on user_id; frame state is 5 rows."""
    e = _t(spark, sf_dir, "events")
    v = e.select(
        "user_id", "event_id", "ts",
        # millisecond resolution: sub-ms jitter is noise for a trend
        # statistic, and the /1000 keeps |slope_num| inside int64 for
        # time-spans x value-swings up to ~300 years x $10k (the
        # microsecond version had an overflow cliff near 9.2e18 where
        # Spark NULLs and DuckDB errors; and a DOUBLE surface is NOT
        # portable — HUGEINT->DOUBLE and DECIMAL->DOUBLE round a
        # last-ulp apart)
        exact_floor_div(
            F.unix_micros("ts") - F.lit(TREND_ANCHOR_US), F.lit(1000)
        ).alias("t_ms"),
        (F.col("value").cast("decimal(28,6)") * 100)
        .cast("decimal(38,0)").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    n = F.count(F.lit(1)).over(w).cast("decimal(38,0)")
    s_tv = F.sum((F.col("t_ms").cast("decimal(38,0)") * F.col("cents"))).over(w)
    s_t = F.sum(F.col("t_ms").cast("decimal(38,0)")).over(w)
    s_v = F.sum("cents").over(w)
    return v.select(
        "user_id", "event_id",
        (n * s_tv - s_t * s_v).cast("long").alias("slope_num"),
    )


@op(
    "running_distinct_event_types",
    oracle="""
    WITH m AS (
        SELECT user_id, event_id, ts,
               CASE WHEN row_number() OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id
               ) = 1 THEN 1 ELSE 0 END AS is_first
        FROM events
    )
    SELECT user_id, event_id,
           CAST(sum(is_first) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_types_seen
    FROM m
    """,
    tags=("window", "distinct"),
)
def running_distinct_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count per user — how many distinct event types
    has this user touched as of each event (the engagement-breadth
    curve). Engines disagree on windowed DISTINCT support, so the two
    sides state the two classic formulations and prove them equal: the
    oracle runs the first-occurrence-flag + running-sum identity; Spark
    runs size(collect_set) over the frame, whose state is bounded by
    the event-type DOMAIN (a handful), not the frame length — the
    distinction that makes it safe at 100 TB. Both need only the one
    user_id shuffle."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.size(F.collect_set("event_type").over(w)).cast("long").alias("n_types_seen"),
    )


@op(
    "vs_peers_daily",
    oracle="""
    WITH d AS (
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS day,
               CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100 AS HUGEINT) AS cents
        FROM orders
    ), g AS (
        SELECT o_orderkey, day, cents,
               sum(cents) OVER (PARTITION BY day) AS day_sum,
               count(*) OVER (PARTITION BY day) AS day_n
        FROM d
    )
    SELECT o_orderkey, day,
           CAST(cents AS BIGINT) AS cents,
           CASE WHEN day_n > 1 THEN
               CAST((CASE WHEN (day_n - 1) * cents - (day_sum - cents) < 0
                          THEN -1 ELSE 1 END)
                    * ((2000000 * abs((day_n - 1) * cents - (day_sum - cents))
                        + (day_n - 1))
                       // (2 * (day_n - 1))) AS DOUBLE) / 1000000
           END AS vs_peer_avg_cents
    FROM g
    WHERE o_orderkey % 50 = 0
    """,
    tags=("window", "analytics"),
)
def vs_peers_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each order compared against the average of its PEERS — the same
    day's OTHER orders — i.e. the SQL:2016 `EXCLUDE CURRENT ROW` frame
    Spark doesn't implement, emulated exactly with the algebraic
    identity peer_avg = (S - x)/(n - 1) over a plain partition window
    (one windowed sum + count, no self-join). vs_peer = x - (S-x)/(n-1)
    = ((n-1)x - (S-x))/(n-1), one exact signed rational; NULL when the
    order is alone that day. Output sampled by key to keep the
    driver-compare bounded; the plan is row-count-independent."""
    from my_polars_ai_spark.operators.base import signed_ratio_round

    o = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(28,6)") * 100).cast("decimal(38,0)")
    d = o.select(
        "o_orderkey", F.to_date("o_orderdate").alias("day"), cents.alias("cents")
    )
    w = Window.partitionBy("day")
    g = d.select(
        "o_orderkey",
        "day",
        "cents",
        F.sum("cents").over(w).alias("day_sum"),
        F.count(F.lit(1)).over(w).cast("decimal(38,0)").alias("day_n"),
    )
    n1 = F.col("day_n") - 1
    diff = n1 * F.col("cents") - (F.col("day_sum") - F.col("cents"))
    vs_peer = F.when(F.col("day_n") > 1, signed_ratio_round(diff, n1))
    return g.filter(F.col("o_orderkey") % 50 == 0).select(
        "o_orderkey",
        "day",
        F.col("cents").cast("long").alias("cents"),
        vs_peer.alias("vs_peer_avg_cents"),
    )
