"""As-of join — the one reference-surface operator with no single Spark
verb (Polars join_asof, SURVEY.md §7 hard part #3).

Spark-first strategy (the "union trick"): tag both sides, union them,
and carry the right side's latest value forward with
``last(..., ignorenulls=True)`` over a per-key ordered window. One
shuffle on the join key, bounded state, no per-group Python — this is the
scalable pattern (the applyInPandas + pd.merge_asof alternative ships
every group through Arrow and is kept only as a fallback in
my_polars_ai_spark.functions.pandas_fallbacks).

Semantics: backward as-of (right.ts <= left.ts), inclusive, per key —
matching Polars join_asof(strategy="backward") and DuckDB ASOF JOIN.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_polars_ai_spark.operators.base import Op, make_registrar
from my_polars_ai_spark.sources.tables import load_table as _t

OPS: dict[str, Op] = {}
op = make_registrar(OPS)

ROUND_WIN = 4


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    value_cols: list[str],
) -> DataFrame:
    """Generic backward as-of join: for each left row, attach the most
    recent right row with ``right.on <= left.on`` within the same ``by``
    group. Returns the left columns plus ``value_cols`` from the right.

    Right-side ties on ``on`` are resolved to the row that sorts last
    (callers wanting full determinism should pre-dedupe the right side).
    """
    # Right rows sort before left rows at equal timestamps => inclusive match.
    return _asof_carry(
        left, right, on, by, value_cols,
        F.col("__side").asc(), (Window.unboundedPreceding, 0), F.last,
    )


def _asof_carry(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    value_cols: list[str],
    side_order: Column,
    frame: tuple[int, int],
    pick,
) -> DataFrame:
    """The union trick behind both as-of joins: union the left rows
    (``__side`` 1) with the right rows (``__side`` 0), carry each value
    column with ``pick`` (F.last / F.first, ignoring nulls) over the
    ``by`` partition ordered by ``on`` then ``side_order`` within
    ``frame``, and keep the left rows."""
    lcols = left.columns
    l = left.withColumn("__side", F.lit(1))
    r = right.select(by, on, *value_cols).withColumn("__side", F.lit(0))
    unioned = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(on).asc(), side_order)
        .rowsBetween(*frame)
    )
    carried = [pick(c, ignorenulls=True).over(w).alias(c) for c in value_cols]
    out = unioned.select(*lcols, F.col("__side"), *carried)
    return out.filter(F.col("__side") == 1).drop("__side")


# View events deduped per (user, ts) and the purchases: the oracle side
# of _purchases_asof.
_VIEWS_PURCHASES_CTES = """
    WITH views AS (
        SELECT user_id, ts AS view_ts, value AS view_value
        FROM (
            SELECT user_id, ts, value,
                   row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'view'
        ) WHERE rn = 1
    ), purchases AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )"""


@op(
    "asof_join_backward",
    oracle=f"""{_VIEWS_PURCHASES_CTES}
    SELECT p.event_id, p.user_id, p.ts,
           v.view_ts AS last_view_ts,
           round(v.view_value, {ROUND_WIN}) AS last_view_value
    FROM purchases p
    ASOF LEFT JOIN views v
      ON p.user_id = v.user_id AND p.ts >= v.view_ts
    """,
    tags=("join", "asof"),
)
def asof_join_purchases_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase, the user's most recent prior (or simultaneous)
    view — backward as-of join via the union trick."""
    joined = _purchases_asof(spark, sf_dir, asof_join_backward, "last_view_value")
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("view_ts").alias("last_view_ts"),
        "last_view_value",
    )


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    value_cols: list[str],
) -> DataFrame:
    """Forward as-of join: for each left row, attach the EARLIEST right
    row with ``right.on >= left.on`` within the same ``by`` group —
    Polars join_asof(strategy="forward"). Same union trick as backward,
    mirrored: first(ignorenulls) over (current row, unbounded following),
    with left rows sorting before right rows at equal timestamps so the
    match stays inclusive."""
    return _asof_carry(
        left, right, on, by, value_cols,
        F.col("__side").desc(), (0, Window.unboundedFollowing), F.first,
    )


def _views_deduped(e: DataFrame, ts_alias: str, value_alias: str) -> DataFrame:
    """view events deduped per (user, ts) so as-of ties are deterministic."""
    w_dedup = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    return (
        e.filter(F.col("event_type") == "view")
        .withColumn("rn", F.row_number().over(w_dedup))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias(ts_alias),
            F.round("value", ROUND_WIN).alias(value_alias),
        )
        .withColumn("ts", F.col(ts_alias))
    )


def _purchases_asof(spark: SparkSession, sf_dir: str, join, value_alias: str) -> DataFrame:
    """Every purchase as-of ``join``ed to the deduped views: the
    purchase columns plus view_ts and the rounded view value as
    ``value_alias``."""
    e = _t(spark, sf_dir, "events")
    views = _views_deduped(e, "view_ts", value_alias)
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    return join(
        purchases,
        views.select("user_id", "ts", "view_ts", value_alias),
        on="ts",
        by="user_id",
        value_cols=["view_ts", value_alias],
    )


@op(
    "asof_join_forward",
    oracle=f"""{_VIEWS_PURCHASES_CTES}
    SELECT p.event_id, p.user_id, p.ts,
           v.view_ts AS next_view_ts,
           round(v.view_value, {ROUND_WIN}) AS next_view_value
    FROM purchases p
    ASOF LEFT JOIN views v
      ON p.user_id = v.user_id AND p.ts <= v.view_ts
    """,
    tags=("join", "asof"),
)
def asof_join_purchases_next_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase, the user's next view at-or-after it — forward
    as-of join (Polars strategy='forward')."""
    joined = _purchases_asof(spark, sf_dir, asof_join_forward, "next_view_value")
    return joined.select(
        "event_id", "user_id", "ts", F.col("view_ts").alias("next_view_ts"), "next_view_value"
    )


@op(
    "asof_join_nearest",
    oracle="""
    WITH views AS (
        SELECT user_id, ts AS view_ts
        FROM (
            SELECT user_id, ts,
                   row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'view'
        ) WHERE rn = 1
    ), purchases AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), paired AS (
        SELECT p.event_id, p.user_id, p.ts,
               vb.view_ts AS back_ts, vf.view_ts AS fwd_ts
        FROM purchases p
        ASOF LEFT JOIN views vb ON p.user_id = vb.user_id AND p.ts >= vb.view_ts
        ASOF LEFT JOIN views vf ON p.user_id = vf.user_id AND p.ts <= vf.view_ts
    )
    SELECT event_id, user_id, ts,
           CASE
             WHEN back_ts IS NULL THEN fwd_ts
             WHEN fwd_ts IS NULL THEN back_ts
             WHEN epoch_us(ts) - epoch_us(back_ts) <= epoch_us(fwd_ts) - epoch_us(ts) THEN back_ts
             ELSE fwd_ts
           END AS nearest_view_ts,
           least(coalesce(epoch_us(ts) - epoch_us(back_ts), 9223372036854775807),
                 coalesce(epoch_us(fwd_ts) - epoch_us(ts), 9223372036854775807)) AS delta_us
    FROM paired
    WHERE back_ts IS NOT NULL OR fwd_ts IS NOT NULL
    """,
    tags=("join", "asof"),
)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join (Polars strategy='nearest'): closest view in
    either direction, ties broken backward. Composed from the backward +
    forward union-trick joins — still one shuffle key (user_id), no
    Python."""
    e = _t(spark, sf_dir, "events")
    w_dedup = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    views = (
        e.filter(F.col("event_type") == "view")
        .withColumn("rn", F.row_number().over(w_dedup))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", F.col("ts").alias("view_ts"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    back = asof_join_backward(
        purchases, views.select("user_id", "ts", F.col("view_ts").alias("back_ts")),
        on="ts", by="user_id", value_cols=["back_ts"],
    )
    both = asof_join_forward(
        back, views.select("user_id", "ts", F.col("view_ts").alias("fwd_ts")),
        on="ts", by="user_id", value_cols=["fwd_ts"],
    )
    # exact integer microseconds on both engines (DuckDB epoch() is
    # fractional and CAST rounds while Spark truncates — off-by-one traps)
    d_back = F.unix_micros("ts") - F.unix_micros("back_ts")
    d_fwd = F.unix_micros("fwd_ts") - F.unix_micros("ts")
    nearest = (
        F.when(F.col("back_ts").isNull(), F.col("fwd_ts"))
        .when(F.col("fwd_ts").isNull(), F.col("back_ts"))
        .when(d_back <= d_fwd, F.col("back_ts"))
        .otherwise(F.col("fwd_ts"))
    )
    big = F.lit(9223372036854775807)
    delta = F.least(F.coalesce(d_back, big), F.coalesce(d_fwd, big)).cast("bigint")
    return (
        both.filter(F.col("back_ts").isNotNull() | F.col("fwd_ts").isNotNull())
        .select("event_id", "user_id", "ts", nearest.alias("nearest_view_ts"), delta.alias("delta_us"))
    )


def _purchase_sessions(purchases: DataFrame) -> DataFrame:
    """Sessionize purchase events per user with a 10-minute gap rule.

    The gap compare is in exact integer MICROseconds (unix_micros), never
    ``ts.cast("long")`` — the cast truncates to whole seconds, so a gap
    of 600.5s would read as 600 and wrongly merge two sessions while a
    full-precision oracle splits them."""
    gap_limit_us = 10 * 60 * 1_000_000
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_session = F.when(gap_us.isNull() | (gap_us > gap_limit_us), 1).otherwise(0)
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        purchases.withColumn("new_session", new_session)
        .withColumn("sid", F.sum("new_session").over(cum))
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr("INTERVAL 10 MINUTES")).alias("session_end"),
        )
        .drop("sid")
    )


@op(
    "interval_join_bucketed",
    oracle="""
    WITH purchases AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    ), flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM purchases
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
    ), sessions AS (
        SELECT user_id, min(ts) AS session_start, max(ts) + INTERVAL 10 MINUTE AS session_end
        FROM numbered GROUP BY user_id, sid
    )
    SELECT e.event_id, e.user_id, e.ts AS error_ts,
           s.session_start, s.session_end
    FROM events e
    JOIN sessions s
      ON e.user_id = s.user_id
     AND e.ts >= s.session_start AND e.ts < s.session_end
    WHERE e.event_type = 'error'
    """,
    tags=("join", "interval", "range"),
)
def interval_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join with NO natural equi key beyond the by-key —
    the range-join shape bucketing solves at scale: error events mapped
    into the purchase-session interval containing them.

    Intervals fan out to every calendar-day bucket they overlap
    (F.sequence over day range — sessions are minutes long, so fan-out is
    1-2 rows); points carry their single day bucket; the join is then a
    plain equi-join on (user_id, day) plus the range post-filter. Without
    the bucket, Spark would need a per-user BNLJ or an unbounded
    sort-merge range join. Per-user sessions are disjoint and an error's
    day matches exactly one exploded row of its session, so no dedup pass
    is needed. The oracle states the same join directly as BETWEEN —
    bucketing is lossless by construction, and the green compare proves
    it."""
    e = _t(spark, sf_dir, "events")
    sessions = _purchase_sessions(e.filter(F.col("event_type") == "purchase"))
    # fan intervals out to each day bucket they overlap
    s_bucketed = sessions.withColumn(
        "day",
        F.explode(
            F.sequence(
                F.date_trunc("day", "session_start").cast("date"),
                F.date_trunc("day", "session_end").cast("date"),
            )
        ),
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.col("ts").alias("error_ts"),
        F.date_trunc("day", "ts").cast("date").alias("day"),
    )
    return (
        errors.join(s_bucketed, ["user_id", "day"])
        .filter(
            (F.col("error_ts") >= F.col("session_start"))
            & (F.col("error_ts") < F.col("session_end"))
        )
        .select("event_id", "user_id", "error_ts", "session_start", "session_end")
    )


@op(
    "asof_join_tolerance",
    oracle=f"""{_VIEWS_PURCHASES_CTES}
    SELECT p.event_id, p.user_id, p.ts,
           CASE WHEN v.view_ts >= p.ts - INTERVAL 1 HOUR
                THEN v.view_ts END AS last_view_ts,
           CASE WHEN v.view_ts >= p.ts - INTERVAL 1 HOUR
                THEN round(v.view_value, {ROUND_WIN}) END AS last_view_value
    FROM purchases p
    ASOF LEFT JOIN views v
      ON p.user_id = v.user_id AND p.ts >= v.view_ts
    """,
    tags=("join", "asof"),
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join with a tolerance bound — Polars
    join_asof(strategy='backward', tolerance='1h'): the most recent
    prior view counts only if it happened within the last hour,
    otherwise the purchase keeps NULL attribution. Because only the
    LATEST prior right row can ever match, tolerance is a post-filter
    on the plain backward as-of carry — same single shuffle and
    bounded window state as `asof_join_backward`, plus one null-out
    projection; no extra join and no widened window frame."""
    joined = _purchases_asof(spark, sf_dir, asof_join_backward, "last_view_value")
    in_tol = F.col("view_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.when(in_tol, F.col("view_ts")).alias("last_view_ts"),
        F.when(in_tol, F.col("last_view_value")).alias("last_view_value"),
    )
