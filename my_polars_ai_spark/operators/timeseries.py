"""Time-window aggregation over the events table: tumbling, sliding,
session (SURVEY.md §2b groupby_dynamic surface + streaming-equivalent
rows; Polars groupby_dynamic).

These are the *batch* twins of the Structured Streaming jobs in
my_polars_ai_spark.streaming — identical F.window/F.session_window
expressions, so the oracle-checked semantics here carry over to the
streaming path (same operator, plus watermark).

Scale notes: F.window is a narrow projection (bucket assignment) followed
by a standard hash aggregation — partial aggregation applies, and a
sliding window only multiplies rows by (length/slide), here 2x.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_polars_ai_spark.operators.base import (
    Op,
    exact_floor_div,
    make_registrar,
    oracle_ratio_round,
    oracle_signed_ratio_round,
    ratio_round,
)
from my_polars_ai_spark.sources.tables import load_table as _t

OPS: dict[str, Op] = {}
op = make_registrar(OPS)

ROUND_WIN = 4

# Order-independent double aggregation: summing raw doubles gives
# engine/partition-order-dependent ulps, which flips round(x, 4) on
# half-way ties (seen on daily_rollup at sf0.001: 38.37875 → .3787/.3788).
# Convention (verified on both engines):
#  * cast each value to DECIMAL(28,6) first — the sum is then exact and
#    order-independent, and round(decimal, 4) is HALF_UP on both engines;
#  * averages are rounded in exact integer arithmetic — the quotient
#    S_micro/(100n) lands exactly on half-way ties whenever 100n divides
#    the sum, and neither round(double, 4) (DuckDB: exact binary) nor
#    cast-to-DECIMAL(38,4) (engine-specific shortest-repr handling)
#    agrees across engines there.  round_half_up(S_micro / (100n)) ==
#    (2*S_micro + 100n) div (200n), all integral and exact on both
#    engines (values are non-negative; half-up == half-away here).
_DEC = "decimal(28,6)"
_ORACLE_SUM4 = "CAST(round(sum(CAST(value AS DECIMAL(28,6))), 4) AS DOUBLE)"
_ORACLE_AVG4 = (
    "CAST((2*CAST(sum(CAST(value AS DECIMAL(28,6))) * 1000000 AS HUGEINT)"
    " + 100*count(*)) // (200*count(*)) AS DOUBLE) / 10000"
)


def _gap_flag_sql(cols: str) -> str:
    """``WITH flagged``: ``cols`` of every event plus ``new_session`` = 1
    where the user's previous event is missing or more than 10 minutes
    older — the oracle side of ``F.session_window(ts, "10 minutes")``."""
    return f"""
    WITH flagged AS (
        SELECT {cols},
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )"""


# The flagged events numbered by their running session id ``sid``,
_SESSION_SID_CTES = _gap_flag_sql("user_id, ts, event_id") + """, numbered AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS sid
        FROM flagged
    )"""
# ... and each session's [s_start, s_end) as +1/-1 boundaries.
_SESSION_BOUNDS_CTES = _SESSION_SID_CTES + """, sessions AS (
        SELECT user_id, sid, min(ts) AS s_start,
               max(ts) + INTERVAL 10 MINUTE AS s_end
        FROM numbered GROUP BY user_id, sid
    ), bounds AS (
        SELECT s_start AS ts, 1 AS delta FROM sessions
        UNION ALL
        SELECT s_end, -1 FROM sessions
    )"""


def _sum4_value():
    return F.round(F.sum(F.col("value").cast(_DEC)), 4).cast("double")


def _avg4_value():
    s_micro = (F.sum(F.col("value").cast(_DEC)) * 1000000).cast("decimal(38,0)")
    n = F.count(F.lit(1))
    q4 = exact_floor_div(2 * s_micro + 100 * n, 200 * n)
    return q4.cast("double") / 10000


@op(
    "tumbling_window_hourly",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           {_ORACLE_SUM4} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("timeseries", "window"),
)
def tumbling_window_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type (F.window; epoch-aligned, so
    the window start equals date_trunc('hour'))."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), _sum4_value().alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@op(
    "sliding_window_1h_30m",
    oracle=f"""
    WITH exploded AS (
        SELECT unnest([
                   CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT),
                   CAST(floor(epoch(ts) / 1800) * 1800 - 1800 AS BIGINT)
               ]) AS window_start_epoch,
               value
        FROM events
    )
    SELECT window_start_epoch, count(*) AS n, {_ORACLE_SUM4} AS sum_value
    FROM exploded
    GROUP BY 1
    """,
    tags=("timeseries", "window", "sliding"),
)
def sliding_window_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 30 min slide): every event lands in
    exactly 2 windows. Window start exposed as epoch seconds (BIGINT) to
    keep the oracle timezone-free."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), _sum4_value().alias("sum_value"))
        .select(
            F.col("w.start").cast("long").alias("window_start_epoch"),
            "n",
            "sum_value",
        )
    )


@op(
    "session_window_10m",
    oracle=f"""{_gap_flag_sql("user_id, ts, value, event_id")}, numbered AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 10 MINUTE AS session_end,
           count(*) AS n_events,
           {_ORACLE_SUM4} AS sum_value
    FROM numbered
    GROUP BY user_id, sid
    """,
    tags=("timeseries", "session"),
)
def session_window_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 10-minute inactivity gap via
    F.session_window (batch mode; window end = last event + gap). Oracle
    reproduces the merge with lag + cumulative session ids."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), _sum4_value().alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@op(
    "daily_rollup",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type,
           count(*) AS n,
           {_ORACLE_AVG4} AS avg_value,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
    tags=("timeseries", "agg"),
)
def daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-day rollup with distinct users — the hypertable-style
    downsample every monitoring pipeline needs."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            _avg4_value().alias("avg_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@op(
    "sequence_islands",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), grp AS (
        SELECT user_id, day,
               day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                          AS INTEGER) AS anchor
        FROM days
    )
    SELECT user_id,
           min(day) AS start_day,
           max(day) AS end_day,
           CAST(count(*) AS BIGINT) AS n_days
    FROM grp
    GROUP BY user_id, anchor
    """,
    tags=("timeseries", "window", "islands"),
)
def sequence_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE calendar days with
    activity, per user (streak detection — the sessionize_gap idea at day
    granularity). Classic anchor trick: day minus its per-user row_number
    is constant exactly within a consecutive run, so one keyed window plus
    one group-by finds every island — no self-join, no iteration; a single
    shuffle on user_id at any scale."""
    e = _t(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    return grp.groupBy("user_id", "anchor").agg(
        F.min("day").alias("start_day"),
        F.max("day").alias("end_day"),
        F.count(F.lit(1)).alias("n_days"),
    ).select("user_id", "start_day", "end_day", "n_days")


@op(
    "funnel_conversion",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events
        GROUP BY user_id
    )
    SELECT CAST(count(CASE WHEN t_view IS NOT NULL THEN 1 END) AS BIGINT) AS n_view,
           CAST(count(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                           THEN 1 END) AS BIGINT) AS n_click_after_view,
           CAST(count(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                                AND t_purchase > t_click
                           THEN 1 END) AS BIGINT) AS n_purchase_after_click
    FROM per_user
    """,
    tags=("timeseries", "funnel", "analytics"),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase funnel: users whose FIRST click follows
    their first view, and first purchase follows that click (the standard
    loose-ordering product funnel). Conditional min-aggregation collapses
    each user to one row in a single shuffle — no per-step self-joins,
    which is what makes the same query viable on a 100 TB event log
    (NULL comparisons are three-valued, so `t_click > t_view` silently
    drops users missing either step on both engines)."""
    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    step2 = F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view"))
    step3 = step2 & (F.col("t_purchase") > F.col("t_click"))
    return per_user.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_view"),
        F.count(F.when(step2, 1)).alias("n_click_after_view"),
        F.count(F.when(step3, 1)).alias("n_purchase_after_click"),
    )


# Each user's first-activity week and every week they were active.
_COHORT_CTES = """
    WITH firsts AS (
        SELECT user_id,
               CAST(date_trunc('week', min(CAST(ts AS DATE))) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS active_week
        FROM events
    )"""


def _cohort_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The Spark side of _COHORT_CTES: (user_id, cohort_week) and the
    distinct (user_id, active_week) rows."""
    e = _t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min(F.to_date("ts"))).cast("date").alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", F.to_date("ts")).cast("date").alias("active_week")
    ).distinct()
    return firsts, activity


@op(
    "retention_cohorts",
    oracle=f"""{_COHORT_CTES}
    SELECT f.cohort_week,
           CAST(datediff('day', f.cohort_week, a.active_week) // 7 AS INTEGER)
               AS week_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM activity a JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    """,
    tags=("timeseries", "retention", "analytics"),
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week,
    counted in each later week they return — the triangle every growth
    dashboard renders. Two aggregations on user_id (cohort assignment +
    distinct active weeks) joined back on the same key, so the second
    shuffle co-locates with the first; offsets are integer day arithmetic
    (both engines truncate weeks to ISO Monday)."""
    firsts, activity = _cohort_frames(spark, sf_dir)
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            F.floor(F.datediff("active_week", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select("cohort_week", "week_offset", "n_users")
    )


@op(
    "view_purchase_attribution",
    oracle="""
    SELECT v.user_id,
           v.event_id AS view_id,
           p.event_id AS purchase_id,
           CAST(floor(epoch(p.ts)) AS BIGINT)
               - CAST(floor(epoch(v.ts)) AS BIGINT) AS lag_sec
    FROM events v
    JOIN events p
      ON p.user_id = v.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 1 HOUR
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
    tags=("timeseries", "join", "interval", "streaming-twin"),
)
def view_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View->purchase attribution: every (view, purchase) pair by the same
    user with the purchase inside the hour after the view — the batch
    member of the stream-stream interval join in streaming/jobs.py
    (stream==batch equality asserted in tests/test_streaming.py). The
    equi-key (user) carries the hash join; the interval rides as a
    residual. lag_sec subtracts per-side floored epochs (Spark's
    timestamp->long cast truncates BEFORE the subtraction — floor of the
    difference would disagree on sub-second components)."""
    from my_polars_ai_spark.streaming.jobs import attribution_batch

    return attribution_batch(spark, sf_dir)


def _transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE empirical first-order chain: per-user (ts, event_id)-ordered
    lag pairs reduced to (a=prev, b=next, n) counts — shared by
    event_transition_matrix, markov_3step_purchase and
    markov_conditional_entropy so the chain definition (ordering,
    tie-breaks, NULL handling) lives in exactly one place."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select("event_type", F.lag("event_type").over(w).alias("prev_type"))
        .filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("a"), F.col("event_type").alias("b"))
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"))
    )


@op(
    "event_transition_matrix",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type,
           CAST(count(*) AS BIGINT) AS n_transitions
    FROM ordered
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
    tags=("timeseries", "window", "markov"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-transition matrix (the empirical Markov chain
    over user journeys): per-user ordered lag pairs each event with its
    predecessor, then one global count per (prev, next) — the input to
    next-event prediction, anomaly scoring, and journey visualization.
    One exchange on user_id for the window (state bounded per user),
    one |event_types|^2-bounded aggregate; ties in the ordering are
    broken by event_id so the lag is deterministic on both engines."""
    return _transition_counts(spark, sf_dir).select(
        F.col("a").alias("prev_type"),
        F.col("b").alias("next_type"),
        F.col("n").cast("long").alias("n_transitions"),
    )


@op(
    "rolling_wau",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        FROM events
    ), days AS (
        SELECT DISTINCT day FROM ud
    )
    SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
    FROM days d
    JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    """,
    tags=("timeseries", "window", "distinct"),
)
def rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day (WAU) — the windowed DISTINCT
    that plain window frames cannot express (no count_distinct over a
    moving frame in any engine). The oracle states the range-join
    semantics; the Spark plan is the scalable fan-out identity: each
    distinct (user, active_day) contributes to exactly the 7 report
    days [day, day+6], so explode a 7-date sequence (fixed 7x row
    multiplier, NOT a range join), keep only observed report days
    (broadcast of the tiny day dimension), and count distinct users per
    report day. Two bounded shuffles — (user, day) dedup and the final
    per-day distinct — both keyed on high-cardinality columns."""
    e = _t(spark, sf_dir, "events")
    ud = e.select(
        F.to_date(F.date_trunc("day", "ts")).alias("day"), "user_id"
    ).distinct()
    days = ud.select("day").distinct().withColumnRenamed("day", "report_day")
    expanded = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("report_day"),
    )
    return (
        expanded.join(days, "report_day")
        .groupBy("report_day")
        .agg(F.count_distinct("user_id").alias("wau"))
        .select(F.col("report_day").alias("day"), "wau")
    )


@op(
    "session_bounce_rate",
    oracle=f"""{_SESSION_SID_CTES}, sessions AS (
        SELECT user_id, sid,
               CAST(date_trunc('day', min(ts)) AS DATE) AS day,
               count(*) AS n_events
        FROM numbered GROUP BY user_id, sid
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounce
    FROM sessions GROUP BY day
    """,
    tags=("timeseries", "session", "agg"),
)
def session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce count — single-event sessions per day of session
    start, the engagement KPI layered on gap-sessionization. Uses the
    native F.session_window aggregation (same 10-minute gap semantics
    the `session_window_10m` op already proves equal to the oracle's
    gaps-and-islands SQL), then a bounded per-day rollup. Session state
    is watermark-compatible: the identical expression runs under
    Structured Streaming in streaming/jobs.py."""
    e = _t(spark, sf_dir, "events")
    sessions = (
        e.groupBy("user_id", F.session_window("ts", "10 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.to_date(F.date_trunc("day", F.col("sw.start"))).alias("day"),
            "n_events",
        )
    )
    return sessions.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long").alias("n_bounce"),
    )


# Path analysis: first K events of each session define its path.
PATH_MAX_EVENTS = 5


@op(
    "session_path_counts",
    oracle=f"""{_gap_flag_sql("user_id, ts, event_id, event_type")}, numbered AS (
        SELECT user_id, ts, event_id, event_type,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS sid
        FROM flagged
    ), ranked AS (
        SELECT user_id, sid, event_type,
               row_number() OVER (PARTITION BY user_id, sid
                                  ORDER BY ts, event_id) AS rn,
               ts, event_id
        FROM numbered
    ), paths AS (
        SELECT user_id, sid,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM ranked WHERE rn <= {PATH_MAX_EVENTS}
        GROUP BY user_id, sid
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    """,
    tags=("timeseries", "session", "path"),
)
def session_path_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path analysis: the ordered event-type sequence opening
    each session (capped at 5 steps), counted across the corpus — the
    'view>view>purchase' journey table behind UX funnels and next-step
    models (the sequence-level complement of `event_transition_matrix`'s
    first-order pairs). Sessionization and ordering share ONE user_id
    shuffle; the per-session path builds from a sort_array of (rank,
    type) structs — deterministic total order, no string_agg ordering
    ambiguity — and the cap bounds every session's contribution."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id", "ts", "event_id", "event_type",
        # exact microsecond gap — a double-seconds cast has ~0.4us
        # resolution at epoch magnitudes, a needless seam vs the
        # oracle's interval arithmetic
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > 600 * 1_000_000),
            1,
        ).otherwise(0).alias("new_session"),
    )
    numbered = flagged.select(
        "user_id", "ts", "event_id", "event_type",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("sid"),
    )
    ranked = numbered.select(
        "user_id", "sid", "event_type",
        F.row_number().over(
            Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
        ).alias("rn"),
    ).filter(F.col("rn") <= PATH_MAX_EVENTS)
    paths = (
        ranked.groupBy("user_id", "sid")
        .agg(F.sort_array(F.collect_list(F.struct("rn", "event_type"))).alias("steps"))
        .select(
            F.array_join(
                F.transform("steps", lambda s: s["event_type"]), ">"
            ).alias("path")
        )
    )
    return paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))


@op(
    "ttc_daily_median",
    oracle="""
    WITH views AS (
        SELECT user_id, ts AS view_ts
        FROM (
            SELECT user_id, ts,
                   row_number() OVER (PARTITION BY user_id, ts
                                      ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'view'
        ) WHERE rn = 1
    ), matched AS MATERIALIZED (
        SELECT p.event_id, p.ts, v.view_ts
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        ASOF JOIN views v
          ON p.user_id = v.user_id AND p.ts >= v.view_ts
    ), conv AS (
        SELECT event_id,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               epoch_us(ts) - epoch_us(view_ts) AS latency_us
        FROM matched
        WHERE view_ts >= ts - INTERVAL 1 HOUR
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_conversions,
           CAST(quantile_disc(latency_us, 0.5) AS BIGINT) AS median_latency_us
    FROM conv GROUP BY day
    """,
    tags=("timeseries", "asof", "stats"),
)
def ttc_daily_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily median time-to-convert: for purchases attributed to a view
    within the last hour (the `asof_join_tolerance` match), the per-day
    median view->purchase latency — the conversion-speed KPI. Median is
    the DISCRETE (lower-middle) element via the cumulative-count pick,
    so it stays an exact integer microsecond value — no interpolation
    halves, no float seam — and the windows partition on day: grouped
    exact medians are scale-safe where the global exact twin is not
    (`median_quantiles`' documented contract). Composes the as-of carry
    with one day-keyed sort."""
    from my_polars_ai_spark.operators.asof import OPS as ASOF_OPS

    conv = ASOF_OPS["asof_join_tolerance"].fn(spark, sf_dir).filter(
        F.col("last_view_ts").isNotNull()
    )
    lat = conv.select(
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        (F.unix_micros("ts") - F.unix_micros("last_view_ts")).alias("latency_us"),
        "event_id",
    )
    w_cum = (
        Window.partitionBy("day")
        .orderBy("latency_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = lat.select(
        "day", "latency_us",
        F.count(F.lit(1)).over(w_cum).alias("cw"),
        F.count(F.lit(1)).over(Window.partitionBy("day")).alias("tw"),
    )
    hit = cum.filter(2 * F.col("cw") >= F.col("tw")).select(
        "day", "latency_us", "tw",
        F.row_number().over(
            Window.partitionBy("day").orderBy("latency_us")
        ).alias("rn"),
    )
    return hit.filter(F.col("rn") == 1).select(
        "day",
        F.col("tw").cast("long").alias("n_conversions"),
        F.col("latency_us").cast("long").alias("median_latency_us"),
    )


@op(
    "volume_spike_days",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               count(*) AS n_events
        FROM events GROUP BY 1
    ), grid AS (
        SELECT unnest(generate_series((SELECT min(day) FROM daily),
                                      (SELECT max(day) FROM daily),
                                      INTERVAL 1 DAY)) AS gday
    ), dense AS (
        SELECT CAST(g.gday AS DATE) AS day,
               coalesce(d.n_events, 0) AS n_events
        FROM grid g LEFT JOIN daily d ON d.day = CAST(g.gday AS DATE)
    ), w AS (
        SELECT day, n_events,
               sum(n_events) OVER t AS sum7,
               count(*) OVER t AS cnt7
        FROM dense
        WINDOW t AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT day, CAST(n_events AS BIGINT) AS n_events,
           CAST(sum7 AS BIGINT) AS trailing7_events,
           (CAST(n_events AS HUGEINT) * 7 >= 2 * CAST(sum7 AS HUGEINT))
               AS is_spike
    FROM w WHERE cnt7 = 7
    """,
    tags=("timeseries", "anomaly", "window"),
)
def volume_spike_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-spike monitor: days whose event count is at least 2x the
    trailing-7-day average — the pipeline-health alarm that catches a
    crawler loop or an upstream replay. The 2x test is the integer
    cross-multiplication n*7 >= 2*sum7 (no division, no floats), the
    comparison window is strictly-prior CALENDAR days — the daily
    rollup is densified onto the full date range first, so zero-event
    outage days weigh the baseline as zeros instead of silently
    stretching the window across the gap — and warm-up days without 7
    full prior days are excluded. The window runs over the dense day
    grid — calendar-bounded, the documented safe class for an
    unpartitioned frame."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    # densify onto the full calendar range so zero-event days (outages)
    # count as ZERO in the baseline instead of silently stretching the
    # trailing window across the gap (the row-lag-vs-calendar trap)
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    grid = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    dense = grid.join(daily, "day", "left").select(
        "day", F.coalesce("n_events", F.lit(0)).alias("n_events")
    )
    t = Window.orderBy("day").rowsBetween(-7, -1)
    w = dense.select(
        "day", "n_events",
        F.sum("n_events").over(t).alias("sum7"),
        F.count(F.lit(1)).over(t).alias("cnt7"),
    )
    return w.filter(F.col("cnt7") == 7).select(
        "day",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum7").cast("long").alias("trailing7_events"),
        (F.col("n_events") * 7 >= 2 * F.col("sum7")).alias("is_spike"),
    )


def _hourly_session_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ts, delta, bucket): +1 at every 10-minute-gap session's start and
    -1 at its end, with the hour bucket of the boundary (the Spark side
    of _SESSION_BOUNDS_CTES, bucketed for the two-pass prefix sum)."""
    sessions = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", F.session_window("ts", "10 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("sw.start").alias("s_start"), F.col("sw.end").alias("s_end"))
    )
    bounds = sessions.select(
        F.col("s_start").alias("ts"), F.lit(1).alias("delta")
    ).unionByName(
        sessions.select(F.col("s_end").alias("ts"), F.lit(-1).alias("delta"))
    )
    return bounds.withColumn("bucket", F.date_trunc("hour", "ts"))


@op(
    "max_concurrent_sessions",
    oracle=f"""{_SESSION_BOUNDS_CTES}, running AS (
        SELECT ts,
               sum(delta) OVER (ORDER BY ts, delta
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS live
        FROM bounds
    )
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(max(live) AS BIGINT) AS peak_concurrent
    FROM running GROUP BY 1
    """,
    tags=("timeseries", "window", "scale-pattern"),
)
def max_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the interval-stabbing load
    metric (capacity planning, license counting). The oracle states the
    textbook global running sum over +1/-1 boundaries; the Spark plan
    is the SCALABLE TWO-PASS PREFIX SUM that replaces it at 100 TB:
    (1) bucket boundaries by hour and reduce each bucket to one delta
    sum; (2) a running offset over the (calendar-bounded) bucket table;
    (3) within-bucket running sums partitioned BY BUCKET, shifted by
    the broadcast offsets. No unpartitioned window ever touches
    event-scale data. Boundary tie rule: ends sort before starts at the
    same instant (delta ascending), so back-to-back sessions never
    double-count."""
    bucketed = _hourly_session_bounds(spark, sf_dir)
    # pass 1: one delta-sum per bucket; running OFFSET over the bounded
    # bucket table (exclusive frame: offset = everything before my bucket)
    per_bucket = bucketed.groupBy("bucket").agg(F.sum("delta").alias("bsum"))
    w_off = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bucket.select(
        "bucket", F.coalesce(F.sum("bsum").over(w_off), F.lit(0)).alias("offset")
    )
    # pass 2: within-bucket running sum, partitioned by bucket
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("ts", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = (
        bucketed.join(offsets, "bucket")
        .select(
            "ts",
            (F.col("offset") + F.sum("delta").over(w_in)).alias("live"),
        )
    )
    return running.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.max("live").cast("long").alias("peak_concurrent"))


@op(
    "cohort_revenue_ltv",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS w,
               min(CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE))
                   OVER (PARTITION BY user_id) AS cohort_week
        FROM events
    ), spend AS (
        SELECT f.cohort_week,
               CAST(datediff('day', f.cohort_week, f.w) // 7 AS INTEGER)
                   AS week_offset,
               sum(CAST(CAST(e.value AS DECIMAL(28,6)) * 100 AS HUGEINT))
                   AS cents
        FROM events e
        JOIN (SELECT DISTINCT user_id, w, cohort_week FROM firsts) f
          ON f.user_id = e.user_id
         AND f.w = CAST(date_trunc('week', CAST(e.ts AS DATE)) AS DATE)
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2
    )
    SELECT cohort_week, week_offset,
           CAST(cents AS BIGINT) AS cents,
           CAST(sum(cents) OVER (PARTITION BY cohort_week ORDER BY week_offset
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_cents
    FROM spend
    """,
    tags=("timeseries", "retention", "analytics"),
)
def cohort_revenue_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve — `retention_cohorts` with money:
    purchase revenue per (signup-week cohort x week offset) plus the
    running cumulative, i.e. the LTV table every growth model is fit
    against. First-touch week comes from ONE window over the events
    (no second scan), revenue accumulates in exact cents, and the
    cumulative window runs over the bounded cohort x offset grid.
    Both heavy aggregations share the user_id key."""
    e = _t(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id")
    base = e.select(
        "user_id",
        "event_type",
        (F.col("value").cast("decimal(28,6)") * 100)
        .cast("decimal(38,0)").alias("cents"),
        F.to_date(F.date_trunc("week", F.to_date("ts"))).alias("w"),
    ).withColumn("cohort_week", F.min("w").over(w_user))
    spend = (
        base.filter(F.col("event_type") == "purchase")
        .groupBy(
            "cohort_week",
            exact_floor_div(
                F.datediff(F.col("w"), F.col("cohort_week")), F.lit(7)
            ).cast("int").alias("week_offset"),
        )
        .agg(F.sum("cents").alias("cents"))
    )
    w_cum = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return spend.select(
        "cohort_week", "week_offset",
        F.col("cents").cast("long").alias("cents"),
        F.sum("cents").over(w_cum).cast("long").alias("cum_cents"),
    )


_OHLC_SQL = """
    WITH b AS (
        SELECT date_trunc('hour', ts) AS hour, event_type, value, ts, event_id
        FROM events
    ), r AS (
        SELECT hour, event_type, value,
               row_number() OVER (PARTITION BY hour, event_type
                                  ORDER BY ts, event_id) AS ra,
               row_number() OVER (PARTITION BY hour, event_type
                                  ORDER BY ts DESC, event_id DESC) AS rd
        FROM b
    )
    SELECT hour, event_type,
           max(CASE WHEN ra = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rd = 1 THEN value END) AS close,
           CAST(count(*) AS BIGINT) AS n_events
    FROM r GROUP BY 1, 2
"""


@op(
    "ohlc_bars_hourly",
    oracle=_OHLC_SQL,
    tags=("timeseries", "rollup"),
)
def ohlc_bars_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type — the candlestick rollup every
    metrics/trading pipeline runs. open/close are min_by/max_by over a
    (ts, event_id) struct key (deterministic under timestamp ties, no
    rank window needed), so the whole bar is ONE map-side-combinable
    aggregation: at 100 TB this is a single shuffle keyed on the
    bounded (hour x event_type) grid, and no value is ever re-derived
    arithmetically (pure selection — doubles pass through bit-exact)."""
    e = _t(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.select(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
            "value",
            F.col("ts"),
            F.col("event_id"),
        )
        .groupBy("hour", "event_type")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


_OPEN_ITEMS_SQL = """
    WITH iv AS (
        SELECT CAST(o.o_orderdate AS DATE) AS d0,
               CAST(l.l_shipdate AS DATE) AS d1
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), ev AS (
        SELECT d0 AS day, 1 AS delta FROM iv
        UNION ALL
        SELECT d1, -1 FROM iv
    ), daily AS (
        SELECT day, sum(delta) AS delta FROM ev GROUP BY day
    )
    SELECT day,
           CAST(sum(delta) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS open_items
    FROM daily
"""


@op(
    "open_lineitems_per_day",
    oracle=_OPEN_ITEMS_SQL,
    tags=("timeseries", "interval"),
)
def open_lineitems_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-but-not-yet-shipped line items per calendar day — the
    interval-counting pattern (bookings occupancy, open tickets, WIP
    inventory) done the scale-safe way: each [orderdate, shipdate)
    interval becomes a +1/-1 event pair, events aggregate to one
    delta per DAY (the shuffle key is the bounded calendar), and the
    running sum is a window over that few-thousand-row daily table —
    never a window over the fact table itself. Same event-diff shape
    as max_concurrent_sessions, here across a fact-fact join."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    iv = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.to_date("o_orderdate").alias("d0"), F.to_date("l_shipdate").alias("d1")
    )
    ev = iv.select(F.col("d0").alias("day"), F.lit(1).alias("delta")).unionByName(
        iv.select(F.col("d1").alias("day"), F.lit(-1).alias("delta"))
    )
    daily = ev.groupBy("day").agg(F.sum("delta").alias("delta"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day", F.sum("delta").over(w).cast("long").alias("open_items")
    )


_DOW_SPIKE_SQL = """
    WITH d AS (
        -- +1: DuckDB dayofweek is 0=Sunday..6, Spark's is 1=Sunday..7
        SELECT CAST(ts AS DATE) AS day, dayofweek(CAST(ts AS DATE)) + 1 AS dow,
               count(*) AS c
        FROM events GROUP BY 1, 2
    ), dw AS (
        SELECT dow, sum(c) AS s_dow, count(*) AS n_dow FROM d GROUP BY 1
    ), tot AS (
        SELECT sum(c) AS s_all, count(*) AS n_all FROM d
    ), adj AS (
        SELECT d.day, d.dow, d.c, tot.s_all, tot.n_all,
               (2 * 1000000 * CAST(d.c * tot.s_all * dw.n_dow AS HUGEINT)
                + CAST(dw.s_dow * tot.n_all AS HUGEINT))
               // (2 * CAST(dw.s_dow * tot.n_all AS HUGEINT)) AS adj_micro
        FROM d JOIN dw USING (dow) CROSS JOIN tot
    )
    SELECT day, CAST(dow AS INT) AS dow, CAST(c AS BIGINT) AS n_events,
           CAST(adj_micro AS BIGINT) AS adjusted_micro,
           CAST(2 * adj_micro * n_all > 3 * s_all * 1000000 AS INT) AS is_spike
    FROM adj
"""


@op(
    "dow_adjusted_spike_days",
    oracle=_DOW_SPIKE_SQL,
    tags=("timeseries", "anomaly", "seasonality"),
)
def dow_adjusted_spike_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted volume anomalies: divide each day's event
    count by its day-of-week index (mean-of-that-dow / overall mean) so
    a busy-Monday pattern doesn't mask or fake spikes, then flag days
    whose ADJUSTED volume exceeds 1.5x the overall mean. The adjusted
    count c*S_all*N_dow/(S_dow*N_all) is an exact integer rational,
    half-up-rounded DIRECTLY to micro-units (the integer identity —
    never a double round-trip), and the spike test is a cross-
    multiplied integer compare — no float anywhere. Composes
    dow_seasonality with volume_spike_days; two bounded aggregates
    over the daily table."""
    e = _t(spark, sf_dir, "events")
    d = e.groupBy(
        F.to_date("ts").alias("day"), F.dayofweek(F.to_date("ts")).alias("dow")
    ).agg(F.count(F.lit(1)).alias("c"))
    dw = d.groupBy("dow").agg(
        F.sum("c").alias("s_dow"), F.count(F.lit(1)).alias("n_dow")
    )
    tot = d.agg(F.sum("c").alias("s_all"), F.count(F.lit(1)).alias("n_all"))
    d38 = "decimal(38,0)"
    num = (F.col("c") * F.col("s_all") * F.col("n_dow")).cast(d38)
    den = (F.col("s_dow") * F.col("n_all")).cast(d38)
    adj_micro = exact_floor_div(2 * 1000000 * num + den, 2 * den)
    adj = (
        d.join(dw, "dow")
        .crossJoin(tot)
        .select(
            "day",
            F.col("dow").cast("int").alias("dow"),
            F.col("c").cast("long").alias("n_events"),
            adj_micro.cast("long").alias("adjusted_micro"),
            (
                2 * adj_micro * F.col("n_all").cast(d38)
                > 3 * F.col("s_all").cast(d38) * 1000000
            ).cast("int").alias("is_spike"),
        )
    )
    return adj


_LN2 = 0.6931471805599453  # literal on BOTH sides — never engine ln(2)

_RETENTION_FIT_SQL = f"""{_COHORT_CTES}, ret AS (
        SELECT f.cohort_week,
               CAST(datediff('day', f.cohort_week, a.active_week) // 7 AS INTEGER)
                   AS x,
               count(*) AS n_users
        FROM activity a JOIN firsts f USING (user_id)
        GROUP BY 1, 2
    ), base AS (
        SELECT cohort_week, n_users AS n0 FROM ret WHERE x = 0
    ), pts AS (
        SELECT r.cohort_week, r.x,
               CAST(round(ln(r.n_users * 1.0 / b.n0) * 1000000) AS BIGINT) AS y
        FROM ret r JOIN base b USING (cohort_week)
    ), s AS (
        SELECT cohort_week, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x*y) AS sxy, sum(x*x) AS sxx
        FROM pts GROUP BY 1 HAVING count(*) >= 2
    ), fit AS (
        SELECT cohort_week, n,
               {oracle_signed_ratio_round(
                   'n*sxy - sx*sy', '(n*sxx - sx*sx) * CAST(1000000 AS HUGEINT)')}
                   AS slope
        FROM s
    )
    SELECT cohort_week, CAST(n AS BIGINT) AS n_points,
           slope AS slope_nats_per_week,
           CASE WHEN slope < 0 THEN round({_LN2} / -slope, 6) END
               AS half_life_weeks
    FROM fit
"""


@op(
    "retention_halflife_fit",
    oracle=_RETENTION_FIT_SQL,
    tags=("timeseries", "retention", "ml"),
)
def retention_halflife_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential retention-decay fit per cohort: OLS slope of
    ln(retention) against week offset (the log-linear trick that turns
    exponential decay into a line), reported with the implied
    half-life ln2/(-slope) — the single number growth teams quote.
    ln(retention) rounds ONCE to micro-nats; all OLS accumulators are
    exact integers; the slope is a signed half-up rational and the
    half-life derives from the ALREADY-ROUNDED slope with a literal
    ln2 on both engines — so even a curve fit hash-matches. Composes
    retention_cohorts; aggregations stay on the cohort grid."""
    firsts, activity = _cohort_frames(spark, sf_dir)
    ret = (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            exact_floor_div(
                F.datediff("active_week", "cohort_week"), F.lit(7)
            ).cast("int").alias("x"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    base = ret.filter(F.col("x") == 0).select(
        "cohort_week", F.col("n_users").alias("n0")
    )
    y = F.round(F.log(F.col("n_users") * 1.0 / F.col("n0")) * 1000000).cast("long")
    pts = ret.join(base, "cohort_week").select("cohort_week", "x", y.alias("y"))
    s = (
        pts.groupBy("cohort_week")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
        .filter(F.col("n") >= 2)
    )
    from my_polars_ai_spark.operators.base import signed_ratio_round

    d38 = "decimal(38,0)"
    slope = signed_ratio_round(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(d38),
        ((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(d38))
        * 1000000,
    )
    fit = s.select(
        "cohort_week", F.col("n").cast("long").alias("n_points"), slope.alias("slope")
    )
    return fit.select(
        "cohort_week",
        "n_points",
        F.col("slope").alias("slope_nats_per_week"),
        F.when(F.col("slope") < 0, F.round(F.lit(_LN2) / -F.col("slope"), 6)).alias(
            "half_life_weeks"
        ),
    )


_WAU_OVERLAP_SQL = f"""
    WITH wu AS (
        SELECT DISTINCT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week,
               user_id
        FROM events
    ), sizes AS (
        SELECT week, count(*) AS n FROM wu GROUP BY 1
    ), inter AS (
        SELECT a.week AS week_a, b.week AS week_b, count(*) AS ni
        FROM (SELECT user_id, week, week + INTERVAL 7 DAY AS next_week FROM wu) a
        JOIN wu b
          ON a.user_id = b.user_id AND b.week = a.next_week
        GROUP BY 1, 2
    )
    SELECT week_a, week_b, CAST(ni AS BIGINT) AS n_both,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           {oracle_ratio_round('ni', 'sa.n + sb.n - ni')} AS jaccard
    FROM inter
    JOIN sizes sa ON sa.week = week_a
    JOIN sizes sb ON sb.week = week_b
"""


@op(
    "wau_overlap_jaccard",
    oracle=_WAU_OVERLAP_SQL,
    tags=("timeseries", "retention", "analytics"),
)
def wau_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week audience overlap: Jaccard between consecutive
    weeks' active-user sets — the 'same people or new people?'
    companion to rolling_wau (which only counts). One distinct
    (week, user) projection; the consecutive-week self-join is keyed
    on user_id (set intersection as an equi-join, never set
    materialization); Jaccard is the exact half-up rational of
    integer counts."""
    e = _t(spark, sf_dir, "events")
    wu = e.select(
        F.date_trunc("week", F.to_date("ts")).cast("date").alias("week"), "user_id"
    ).distinct()
    sizes = wu.groupBy("week").agg(F.count(F.lit(1)).alias("n"))
    # join on BOTH keys (user, computed next week): Catalyst keeps a
    # post-filtered single-key join as a per-user all-week-pairs fan-out;
    # precomputing week+7 makes consecutive-ness part of the hash key
    a = wu.select(
        "user_id",
        F.col("week").alias("week_a"),
        F.date_add(F.col("week"), 7).alias("week_b"),
    )
    b = wu.select("user_id", F.col("week").alias("week_b"))
    inter = (
        a.join(b, ["user_id", "week_b"])
        .groupBy("week_a", "week_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    sa = sizes.select(F.col("week").alias("week_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("week").alias("week_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "week_a")
        .join(sb, "week_b")
        .select(
            "week_a",
            "week_b",
            F.col("ni").cast("long").alias("n_both"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            ratio_round(
                F.col("ni"), F.col("n_a") + F.col("n_b") - F.col("ni")
            ).alias("jaccard"),
        )
    )


_SPC_SQL = """
    WITH lt AS (
        SELECT CAST(date_trunc('week', CAST(l.l_shipdate AS DATE)) AS DATE)
                   AS week,
               date_diff('day', CAST(o.o_orderdate AS DATE),
                         CAST(l.l_shipdate AS DATE)) AS d
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), wk AS (
        SELECT week, count(*) AS n, sum(d) AS s FROM lt GROUP BY 1
    ), tot AS (
        SELECT count(*) AS n_all, sum(d) AS s_all, sum(d*d) AS ss_all FROM lt
    ), calc AS (
        SELECT wk.week, wk.n,
               (CASE WHEN wk.s < 0 THEN -1 ELSE 1 END)
                 * ((2*1000000*abs(CAST(wk.s AS HUGEINT)) + wk.n)
                    // (2*CAST(wk.n AS HUGEINT))) AS xbar_micro,
               (CASE WHEN tot.s_all < 0 THEN -1 ELSE 1 END)
                 * ((2*1000000*abs(CAST(tot.s_all AS HUGEINT)) + tot.n_all)
                    // (2*CAST(tot.n_all AS HUGEINT))) AS center_micro,
               CAST(round(sqrt((CAST(tot.n_all AS DOUBLE)*tot.ss_all
                                - CAST(tot.s_all AS DOUBLE)*tot.s_all)
                               / (CAST(tot.n_all AS DOUBLE)*tot.n_all))
                          / sqrt(CAST(wk.n AS DOUBLE)) * 3 * 1000000)
                    AS BIGINT) AS delta_micro
        FROM wk CROSS JOIN tot
    )
    SELECT week, CAST(n AS BIGINT) AS n,
           CAST(xbar_micro AS DOUBLE) / 1000000 AS xbar,
           CAST(center_micro - delta_micro AS DOUBLE) / 1000000 AS lcl,
           CAST(center_micro + delta_micro AS DOUBLE) / 1000000 AS ucl,
           CAST(xbar_micro < center_micro - delta_micro
                OR xbar_micro > center_micro + delta_micro AS INT)
               AS out_of_control
    FROM calc
"""


@op(
    "spc_control_chart",
    oracle=_SPC_SQL,
    tags=("timeseries", "quality", "spc"),
)
def spc_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-process-control x-bar chart over weekly order-to-ship
    day deltas: weekly subgroup means with 3-sigma control limits
    (center ± 3·σ_pop/√n_week) and out-of-control flags — the
    manufacturing-quality view of fulfillment stability. Means are
    signed half-up integer micro-units (the synthetic tables aren't
    referentially date-consistent, so deltas go negative — the signed
    identity, not the unsigned one); σ scales into micro-units with ONE
    round of a portable double; limits are integer add/subtract and the
    flag is a pure integer compare, so nothing can flip between
    engines. Shape: orderkey-keyed fact join, bounded weekly aggregate,
    1-row broadcast of the population moments."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lt = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.date_trunc("week", F.to_date("l_shipdate")).cast("date").alias("week"),
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("d"),
    )
    wk = lt.groupBy("week").agg(F.count(F.lit(1)).alias("n"), F.sum("d").alias("s"))
    tot = lt.agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum("d").alias("s_all"),
        F.sum(F.col("d") * F.col("d")).alias("ss_all"),
    )

    def signed_micro(num, den):
        d38 = "decimal(38,0)"
        n_d = num.cast(d38)
        den_d = den.cast(d38)
        sign = F.when(n_d < 0, -1).otherwise(1)
        return sign * exact_floor_div(2 * 1000000 * F.abs(n_d) + den_d, 2 * den_d)

    delta_micro = (
        F.round(
            F.sqrt(
                (
                    F.col("n_all").cast("double") * F.col("ss_all")
                    - F.col("s_all").cast("double") * F.col("s_all")
                )
                / (F.col("n_all").cast("double") * F.col("n_all"))
            )
            / F.sqrt(F.col("n").cast("double"))
            * 3
            * 1000000
        )
        .cast("long")
    )
    calc = wk.crossJoin(tot).select(
        "week",
        "n",
        signed_micro(F.col("s"), F.col("n")).cast("long").alias("xbar_micro"),
        signed_micro(F.col("s_all"), F.col("n_all")).cast("long").alias("center_micro"),
        delta_micro.alias("delta_micro"),
    )
    return calc.select(
        "week",
        F.col("n").cast("long").alias("n"),
        (F.col("xbar_micro").cast("double") / 1000000).alias("xbar"),
        ((F.col("center_micro") - F.col("delta_micro")).cast("double") / 1000000)
        .alias("lcl"),
        ((F.col("center_micro") + F.col("delta_micro")).cast("double") / 1000000)
        .alias("ucl"),
        (
            (F.col("xbar_micro") < F.col("center_micro") - F.col("delta_micro"))
            | (F.col("xbar_micro") > F.col("center_micro") + F.col("delta_micro"))
        ).cast("int").alias("out_of_control"),
    )


_DRAWDOWN_SQL = f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               sum(CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100 AS HUGEINT))
                   AS cents
        FROM orders GROUP BY 1
    ), cum AS (
        SELECT day, cents,
               max(cents) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS peak_cents
        FROM daily
    )
    SELECT day,
           CAST(cents AS BIGINT) AS cents,
           CAST(peak_cents AS BIGINT) AS peak_cents,
           {oracle_ratio_round('peak_cents - cents', 'peak_cents')} AS drawdown
    FROM cum
"""


@op(
    "revenue_max_drawdown",
    oracle=_DRAWDOWN_SQL,
    tags=("timeseries", "finance", "window"),
)
def revenue_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-to-trough drawdown of the daily revenue series: running
    peak via a cumulative-max window, drawdown = (peak - value)/peak
    as the exact half-up rational of integer cents — the
    risk/volatility read on any business series (max over the output
    column is the headline max-drawdown number). The window runs over
    the calendar-bounded DAILY aggregate, never the fact table."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(28,6)") * 100).cast("decimal(38,0)")
        ).alias("cents")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select("day", "cents", F.max("cents").over(w).alias("peak_cents"))
    return cum.select(
        "day",
        F.col("cents").cast("long").alias("cents"),
        F.col("peak_cents").cast("long").alias("peak_cents"),
        ratio_round(F.col("peak_cents") - F.col("cents"), F.col("peak_cents")).alias(
            "drawdown"
        ),
    )


_CUSUM_SQL = """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, count(*) AS x FROM events GROUP BY 1
    ), tot AS (
        SELECT count(*) AS n_all, sum(x) AS s_all FROM daily
    ), dev AS (
        -- D_t = x_t*n_all - s_all: exact mean-zero deviations scaled by
        -- n_all; k (allowance) and h (decision) in the same unit
        SELECT d.day,
               CAST(d.x * t.n_all - t.s_all AS HUGEINT) AS dd,
               CAST(t.s_all // 10 AS HUGEINT) AS k,
               CAST(t.s_all // 2 AS HUGEINT) AS h
        FROM daily d CROSS JOIN tot t
    ), s AS (
        SELECT day, k, h,
               sum(dd - k) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sp,
               sum(dd + k) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sn
        FROM dev
    ), c AS (
        SELECT day, h,
               sp - least(CAST(0 AS HUGEINT),
                          min(sp) OVER (ORDER BY day
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                   AS cusum_pos,
               greatest(CAST(0 AS HUGEINT),
                        max(sn) OVER (ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                   - sn AS cusum_neg
        FROM s
    )
    SELECT day,
           CAST(cusum_pos AS BIGINT) AS cusum_pos,
           CAST(cusum_neg AS BIGINT) AS cusum_neg,
           CAST(cusum_pos > h OR cusum_neg > h AS INT) AS alarm
    FROM c
"""


@op(
    "cusum_change_detection",
    oracle=_CUSUM_SQL,
    tags=("timeseries", "anomaly", "spc"),
)
def cusum_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM sequential change detection on daily event volume — the
    SPC chart that catches small persistent SHIFTS a 3-sigma chart
    misses. The textbook recurrence C+_t = max(0, C+_{t-1} + x_t-k)
    looks inherently sequential, but the reflection identity
    C+_t = S_t - min(0, min_{j<=t} S_j) (S = prefix sum of slacked
    deviations) turns it into cumsum + running-min — two ordinary
    windows over the bounded daily table, no recursion, no state.
    Deviations are pre-scaled by n_all so everything is an exact
    integer; k = s_all//10 (allowance) and h = s_all//2 (decision
    interval) live in the same unit."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    tot = daily.agg(F.count(F.lit(1)).alias("n_all"), F.sum("x").alias("s_all"))
    d38 = "decimal(38,0)"
    dev = daily.crossJoin(tot).select(
        "day",
        (F.col("x").cast(d38) * F.col("n_all") - F.col("s_all")).alias("dd"),
        exact_floor_div(F.col("s_all"), F.lit(10)).alias("k"),
        exact_floor_div(F.col("s_all"), F.lit(2)).alias("h"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    s = dev.select(
        "day",
        "k",
        "h",
        F.sum(F.col("dd") - F.col("k")).over(w).alias("sp"),
        F.sum(F.col("dd") + F.col("k")).over(w).alias("sn"),
    )
    zero = F.lit(0).cast(d38)
    c = s.select(
        "day",
        "h",
        (F.col("sp") - F.least(zero, F.min("sp").over(w))).alias("cusum_pos"),
        (F.greatest(zero, F.max("sn").over(w)) - F.col("sn")).alias("cusum_neg"),
    )
    return c.select(
        "day",
        F.col("cusum_pos").cast("long").alias("cusum_pos"),
        F.col("cusum_neg").cast("long").alias("cusum_neg"),
        ((F.col("cusum_pos") > F.col("h")) | (F.col("cusum_neg") > F.col("h")))
        .cast("int")
        .alias("alarm"),
    )


def churn_week_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared survival scaffold: per distinct churn week, the churned
    count ``d`` and at-risk count ``r`` via the sweep-line identity
    r(w) = cum(entries <= w) - cum(exits < w) over the calendar-bounded
    weekly grid — |weeks| rows, never weeks x customers. ONE definition
    feeds Kaplan-Meier and Nelson-Aalen so the risk sets cannot
    drift."""
    o = _t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.date_trunc("week", F.min(F.to_date("o_orderdate"))).cast("date")
        .alias("first_w"),
        F.date_trunc("week", F.max(F.to_date("o_orderdate"))).cast("date")
        .alias("last_w"),
    )
    entries = cust.groupBy(F.col("first_w").alias("w")).agg(
        F.count(F.lit(1)).alias("n_enter")
    )
    exits = cust.groupBy(F.col("last_w").alias("w")).agg(
        F.count(F.lit(1)).alias("n_exit")
    )
    grid = entries.join(exits, "w", "full_outer")
    w_le = Window.orderBy("w").rowsBetween(Window.unboundedPreceding, 0)
    w_lt = Window.orderBy("w").rowsBetween(Window.unboundedPreceding, -1)
    return (
        grid.select(
            "w",
            F.coalesce("n_exit", F.lit(0)).alias("d"),
            (
                F.sum(F.coalesce("n_enter", F.lit(0))).over(w_le)
                - F.coalesce(
                    F.sum(F.coalesce("n_exit", F.lit(0))).over(w_lt), F.lit(0)
                )
            ).alias("r"),
        )
        # the event grid is the distinct churn weeks only (a week that
        # only ever saw entries contributes no survival factor)
        .filter(F.col("d") > 0)
    )


# Per churn week (the week of a customer's last order): churned d and
# at-risk r — the textbook cross-join statement of churn_week_counts.
_CHURN_COUNTS_CTES = """
    WITH cust AS (
        SELECT o_custkey,
               CAST(date_trunc('week', min(CAST(o_orderdate AS DATE))) AS DATE)
                   AS first_w,
               CAST(date_trunc('week', max(CAST(o_orderdate AS DATE))) AS DATE)
                   AS last_w
        FROM orders GROUP BY 1
    ), weeks AS (
        SELECT DISTINCT last_w AS w FROM cust
    ), counts AS (
        SELECT w.w,
               sum(CASE WHEN c.last_w = w.w THEN 1 ELSE 0 END) AS d,
               sum(CASE WHEN c.first_w <= w.w AND c.last_w >= w.w
                        THEN 1 ELSE 0 END) AS r
        FROM weeks w CROSS JOIN cust c
        GROUP BY w.w
    )"""

_KM_SQL = f"""{_CHURN_COUNTS_CTES}, f AS (
        SELECT w, d, r,
               CASE WHEN r > d
                    THEN CAST(round(ln((r - d) * 1.0 / r) * 1000000) AS BIGINT)
               END AS factor_micro
        FROM counts
    )
    SELECT w AS week, CAST(d AS BIGINT) AS n_churned,
           CAST(r AS BIGINT) AS n_at_risk,
           CAST(sum(factor_micro) OVER (ORDER BY w
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS log_survival_micro,
           CAST(max(CASE WHEN r = d THEN 1 ELSE 0 END) OVER (ORDER BY w
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
               AS survival_is_zero
    FROM f
"""


@op(
    "kaplan_meier_churn",
    oracle=_KM_SQL,
    tags=("timeseries", "survival", "ml"),
)
def kaplan_meier_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival over customer churn (churn week = week of
    a customer's LAST order): per event week the churned count d, the
    at-risk count r, and the KM estimate kept in LOG space —
    ln S(t) = sum ln((r-d)/r) with each factor micro-nat-rounded once
    and summed exactly (exp() is NOT correctly-rounded across libms,
    so the exponential never materializes; callers exponentiate at
    display time). The final event week always has r == d (everyone
    left churns), where S hits 0 — carried as an explicit flag, not a
    -inf. At-risk counts NEVER materialize weeks x customers: customers
    aggregate to per-week entry (first_w) and exit (last_w) counts, and
    r(w) = cum(entries <= w) - cum(exits < w) falls out of two
    cumulative windows over the calendar-bounded weekly grid — the
    sweep-line identity that replaces the cross join (at 100x, weeks x
    customers is billions of scaffold rows; this is |weeks| rows)."""
    counts = churn_week_counts(spark, sf_dir)
    factor = F.when(
        F.col("r") > F.col("d"),
        F.round(
            F.log((F.col("r") - F.col("d")) * 1.0 / F.col("r")) * 1000000
        ).cast("long"),
    )
    f = counts.select("w", "d", "r", factor.alias("factor_micro"))
    win = Window.orderBy("w").rowsBetween(Window.unboundedPreceding, 0)
    return f.select(
        F.col("w").alias("week"),
        F.col("d").cast("long").alias("n_churned"),
        F.col("r").cast("long").alias("n_at_risk"),
        F.sum("factor_micro").over(win).cast("long").alias("log_survival_micro"),
        F.max((F.col("r") == F.col("d")).cast("int")).over(win).alias(
            "survival_is_zero"
        ),
    )


_NA_SQL = f"""{_CHURN_COUNTS_CTES}, f AS (
        SELECT w, d, r,
               (2*1000000*CAST(d AS HUGEINT) + r) // (2*CAST(r AS HUGEINT))
                   AS hz_micro,
               (2*1000000*CAST(d AS HUGEINT)*(r - d) + CAST(r AS HUGEINT)*r*r)
                   // (2*CAST(r AS HUGEINT)*r*r) AS var_micro
        FROM counts
    )
    SELECT w AS week, CAST(d AS BIGINT) AS n_churned,
           CAST(r AS BIGINT) AS n_at_risk,
           CAST(sum(hz_micro) OVER (ORDER BY w
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_hazard_micro,
           CAST(sum(var_micro) OVER (ORDER BY w
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_var_micro
    FROM f
"""


@op(
    "nelson_aalen_hazard",
    oracle=_NA_SQL,
    tags=("timeseries", "survival", "ml"),
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard over the SAME churn risk sets as
    `kaplan_meier_churn` (one shared churn_week_counts definition):
    H(t) = sum d/r and its Poisson-type variance sum d(r-d)/r^3, both
    EXACT integer rationals — unlike KM's log-space product no
    transcendental ever enters, so each term is one half-up micro
    rounding and the cumulative sums are exact. KM answers "what
    fraction survives"; the hazard increments answer "how hard does
    week w churn", which is the quantity churn interventions A/B
    against. The final all-churn week, where KM's S(t) hits 0, is an
    ordinary d/r = 1 increment here — the estimator NA exists for.

    Scale shape: identical to KM — the sweep-line weekly grid, two
    cumulative windows over calendar-bounded rows, zero weeks x
    customers scaffolding."""
    counts = churn_week_counts(spark, sf_dir)
    d38 = "decimal(38,0)"
    p = 1_000_000
    d_, r_ = F.col("d").cast(d38), F.col("r").cast(d38)
    hz = exact_floor_div(2 * p * d_ + r_, 2 * r_)
    var = exact_floor_div(
        2 * p * d_ * (r_ - d_) + r_ * r_ * r_, 2 * r_ * r_ * r_
    )
    f = counts.select("w", "d", "r", hz.alias("hz_micro"), var.alias("var_micro"))
    win = Window.orderBy("w").rowsBetween(Window.unboundedPreceding, 0)
    return f.select(
        F.col("w").alias("week"),
        F.col("d").cast("long").alias("n_churned"),
        F.col("r").cast("long").alias("n_at_risk"),
        F.sum("hz_micro").over(win).cast("long").alias("cum_hazard_micro"),
        F.sum("var_micro").over(win).cast("long").alias("cum_var_micro"),
    )


_LOGRANK_SQL = """
    WITH cust AS (
        SELECT o_custkey, o_custkey % 2 AS grp,
               CAST(date_trunc('week', min(CAST(o_orderdate AS DATE))) AS DATE)
                   AS first_w,
               CAST(date_trunc('week', max(CAST(o_orderdate AS DATE))) AS DATE)
                   AS last_w
        FROM orders GROUP BY 1
    ), weeks AS (
        SELECT DISTINCT last_w AS w FROM cust
    ), counts AS (
        SELECT w.w,
               sum(CASE WHEN c.last_w = w.w THEN 1 ELSE 0 END) AS d,
               sum(CASE WHEN c.first_w <= w.w AND c.last_w >= w.w
                        THEN 1 ELSE 0 END) AS r,
               sum(CASE WHEN c.last_w = w.w AND c.grp = 1 THEN 1 ELSE 0 END) AS d1,
               sum(CASE WHEN c.first_w <= w.w AND c.last_w >= w.w AND c.grp = 1
                        THEN 1 ELSE 0 END) AS r1
        FROM weeks w CROSS JOIN cust c
        GROUP BY w.w
    ), terms AS (
        SELECT
            CAST(d1 AS HUGEINT) * 1000000
              - (2*1000000*CAST(d AS HUGEINT)*r1 + r) // (2*CAST(r AS HUGEINT))
                AS oe_micro,
            CASE WHEN r > 1 THEN
                (2*1000000*CAST(d AS HUGEINT)*r1*(r - r1)*(r - d)
                 + CAST(r AS HUGEINT)*r*(r - 1))
                // (2*CAST(r AS HUGEINT)*r*(r - 1))
            ELSE CAST(0 AS HUGEINT) END AS v_micro
        FROM counts
    )
    SELECT CAST(sum(oe_micro) AS BIGINT) AS sum_oe_micro,
           CAST(sum(v_micro) AS BIGINT) AS sum_v_micro,
           round(power(CAST(sum(oe_micro) AS DOUBLE) / 1000000, 2)
                 / (CAST(sum(v_micro) AS DOUBLE) / 1000000), 6) AS chi2
    FROM terms
"""


@op(
    "logrank_test_churn",
    oracle=_LOGRANK_SQL,
    tags=("timeseries", "survival", "stats"),
)
def logrank_test_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test comparing churn survival between the two customer
    parity groups — the hypothesis test that pairs with
    kaplan_meier_churn's curves (chi2 ~ 1df under equal hazards). Per
    event week, observed-minus-expected group-1 churn and the
    hypergeometric variance are each computed as EXACT half-up integer
    micro-units (the rational identities, never a float round-trip),
    summed exactly, and the chi-square statistic is one IEEE-portable
    expression over the two integer sums. Same sweep-line at-risk
    identity as the KM estimator — per-week entry/exit counts plus
    cumulative windows over the bounded weekly grid, no weeks x
    customers scaffold."""
    o = _t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.date_trunc("week", F.min(F.to_date("o_orderdate"))).cast("date")
        .alias("first_w"),
        F.date_trunc("week", F.max(F.to_date("o_orderdate"))).cast("date")
        .alias("last_w"),
    ).select((F.col("o_custkey") % 2).alias("grp"), "first_w", "last_w")
    # Same sweep-line identity as kaplan_meier_churn, carried per group:
    # r(w) = cum(entries <= w) - cum(exits < w), never weeks x customers.
    g1 = (F.col("grp") == 1).cast("long")
    entries = cust.groupBy(F.col("first_w").alias("w")).agg(
        F.count(F.lit(1)).alias("n_enter"), F.sum(g1).alias("n_enter1")
    )
    exits = cust.groupBy(F.col("last_w").alias("w")).agg(
        F.count(F.lit(1)).alias("n_exit"), F.sum(g1).alias("n_exit1")
    )
    grid = entries.join(exits, "w", "full_outer")
    w_le = Window.orderBy("w").rowsBetween(Window.unboundedPreceding, 0)
    w_lt = Window.orderBy("w").rowsBetween(Window.unboundedPreceding, -1)

    def _risk(enter_col: str, exit_col: str):
        return F.sum(F.coalesce(enter_col, F.lit(0))).over(w_le) - F.coalesce(
            F.sum(F.coalesce(exit_col, F.lit(0))).over(w_lt), F.lit(0)
        )

    counts = grid.select(
        "w",
        F.coalesce("n_exit", F.lit(0)).alias("d"),
        _risk("n_enter", "n_exit").alias("r"),
        F.coalesce("n_exit1", F.lit(0)).alias("d1"),
        _risk("n_enter1", "n_exit1").alias("r1"),
    ).filter(F.col("d") > 0)
    d38 = "decimal(38,0)"
    d, r, d1, r1 = (F.col(c).cast(d38) for c in ("d", "r", "d1", "r1"))
    e1_micro = exact_floor_div(2 * 1000000 * d * r1 + r, 2 * r)
    v_micro = F.when(
        F.col("r") > 1,
        exact_floor_div(
            2 * 1000000 * d * r1 * (r - r1) * (r - d) + r * r * (r - 1),
            2 * r * r * (r - 1),
        ),
    ).otherwise(F.lit(0).cast(d38))
    terms = counts.select(
        (d1 * 1000000 - e1_micro).alias("oe_micro"), v_micro.alias("v_micro")
    )
    agg = terms.agg(
        F.sum("oe_micro").alias("soe"), F.sum("v_micro").alias("sv")
    )
    chi2 = F.round(
        F.pow(F.col("soe").cast("double") / 1000000, 2)
        / (F.col("sv").cast("double") / 1000000),
        6,
    )
    return agg.select(
        F.col("soe").cast("long").alias("sum_oe_micro"),
        F.col("sv").cast("long").alias("sum_v_micro"),
        chi2.alias("chi2"),
    )


_FORECAST_BT_SQL = f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, count(*) AS x FROM events GROUP BY 1
    ), lagged AS (
        SELECT day, x,
               lag(x, 1) OVER (ORDER BY day) AS naive,
               lag(x, 7) OVER (ORDER BY day) AS snaive
        FROM daily
    ), scored AS (
        SELECT
            sum(CASE WHEN naive IS NOT NULL THEN abs(x - naive) END) AS ae_n,
            sum(CASE WHEN naive IS NOT NULL THEN 1 ELSE 0 END) AS n_n,
            sum(CASE WHEN snaive IS NOT NULL THEN abs(x - snaive) END) AS ae_s,
            sum(CASE WHEN snaive IS NOT NULL THEN 1 ELSE 0 END) AS n_s
        FROM lagged
    )
    SELECT 'naive_lag1' AS method, CAST(n_n AS BIGINT) AS n_days,
           CAST(ae_n AS BIGINT) AS abs_err_total,
           {oracle_ratio_round('ae_n', 'n_n')} AS mae
    FROM scored
    UNION ALL
    SELECT 'seasonal_naive_lag7', CAST(n_s AS BIGINT), CAST(ae_s AS BIGINT),
           {oracle_ratio_round('ae_s', 'n_s')}
    FROM scored
"""


@op(
    "forecast_backtest_naive",
    oracle=_FORECAST_BT_SQL,
    tags=("timeseries", "forecast", "eval"),
)
def forecast_backtest_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest over the daily series: MAE of the naive
    (yesterday) and seasonal-naive (same weekday last week) forecasts
    — the two baselines every forecasting model must beat before it
    ships, evaluated with exact integer absolute errors and the
    half-up rational mean. Lags are windows over the bounded daily
    table; one 1-row reduce scores both methods in a single pass."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "x",
        F.lag("x", 1).over(w).alias("naive"),
        F.lag("x", 7).over(w).alias("snaive"),
    )
    scored = lagged.agg(
        F.sum(F.when(F.col("naive").isNotNull(), F.abs(F.col("x") - F.col("naive"))))
        .alias("ae_n"),
        F.sum(F.col("naive").isNotNull().cast("int")).alias("n_n"),
        F.sum(F.when(F.col("snaive").isNotNull(), F.abs(F.col("x") - F.col("snaive"))))
        .alias("ae_s"),
        F.sum(F.col("snaive").isNotNull().cast("int")).alias("n_s"),
    )
    n_row = scored.select(
        F.lit("naive_lag1").alias("method"),
        F.col("n_n").cast("long").alias("n_days"),
        F.col("ae_n").cast("long").alias("abs_err_total"),
        ratio_round(F.col("ae_n"), F.col("n_n")).alias("mae"),
    )
    s_row = scored.select(
        F.lit("seasonal_naive_lag7").alias("method"),
        F.col("n_s").cast("long").alias("n_days"),
        F.col("ae_s").cast("long").alias("abs_err_total"),
        ratio_round(F.col("ae_s"), F.col("n_s")).alias("mae"),
    )
    return n_row.unionByName(s_row)


_YOY_SQL = """
    WITH m AS (
        SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
                   AS month,
               sum(CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100 AS HUGEINT))
                   AS cents
        FROM orders GROUP BY 1
    ), j AS (
        SELECT cur.month, cur.cents,
               prev.cents AS cents_prior_year
        FROM m cur
        LEFT JOIN m prev ON prev.month = cur.month - INTERVAL 1 YEAR
    )
    SELECT month, CAST(cents AS BIGINT) AS cents,
           CAST(cents_prior_year AS BIGINT) AS cents_prior_year,
           CASE WHEN cents_prior_year > 0 THEN
               CAST((CASE WHEN cents - cents_prior_year < 0 THEN -1 ELSE 1 END)
                    * ((2*1000000*abs(cents - cents_prior_year)
                        + cents_prior_year)
                       // (2*cents_prior_year)) AS DOUBLE) / 1000000
           END AS yoy_change
    FROM j
"""


@op(
    "yoy_revenue_change",
    oracle=_YOY_SQL,
    tags=("timeseries", "calendar", "analytics"),
)
def yoy_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with the year-over-year change — the calendar
    compare one level up from wow_revenue_change (weeks drift across
    year boundaries; months align exactly, so YoY is the seasonality-
    free growth read). Exact integer cents; the YoY ratio is the
    signed half-up rational, NULL for the first year (no prior).
    Self-join of the bounded monthly table on a shifted calendar key."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", F.to_date("o_orderdate")).cast("date").alias("month")
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(28,6)") * 100).cast("decimal(38,0)")
        ).alias("cents")
    )
    prev = m.select(
        F.add_months(F.col("month"), 12).alias("month"),
        F.col("cents").alias("cents_prior_year"),
    )
    j = m.join(prev, "month", "left")
    from my_polars_ai_spark.operators.base import signed_ratio_round

    return j.select(
        "month",
        F.col("cents").cast("long").alias("cents"),
        F.col("cents_prior_year").cast("long").alias("cents_prior_year"),
        F.when(
            F.col("cents_prior_year") > 0,
            signed_ratio_round(
                F.col("cents") - F.col("cents_prior_year"),
                F.col("cents_prior_year"),
            ),
        ).alias("yoy_change"),
    )


_EARLY_RETENTION_SQL = """
    WITH per_user AS (
        SELECT user_id,
               sum(CASE WHEN CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE)
                          = (SELECT CAST(date_trunc('week', min(CAST(ts AS DATE)))
                                         AS DATE)
                             FROM events e2 WHERE e2.user_id = events.user_id)
                        THEN 1 ELSE 0 END) AS x,
               count(DISTINCT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE))
                   AS y
        FROM events GROUP BY user_id
    ), s AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
        FROM per_user
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 THEN
               round((CAST(n*sxy - sx*sy AS DOUBLE))
                     / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                        * sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6)
           END AS pearson_r
    FROM s
"""


@op(
    "early_activity_retention_corr",
    oracle=_EARLY_RETENTION_SQL,
    tags=("timeseries", "retention", "stats"),
)
def early_activity_retention_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do heavy first-week users retain? Pearson correlation between
    each user's FIRST-week event count and their total active weeks —
    the single number behind every 'aha-moment' growth hypothesis.
    First-week counts come from one user-keyed window (no correlated
    subquery in the plan — the oracle states it that way for clarity);
    the correlation is exact integer accumulators + one IEEE
    expression, same contract as cross_table_daily_correlation."""
    e = _t(spark, sf_dir, "events")
    week = F.date_trunc("week", F.to_date("ts")).cast("date")
    wu = Window.partitionBy("user_id")
    base = e.select("user_id", week.alias("w")).withColumn(
        "first_w", F.min("w").over(wu)
    )
    per_user = base.groupBy("user_id").agg(
        F.sum((F.col("w") == F.col("first_w")).cast("int")).alias("x"),
        F.countDistinct("w").alias("y"),
    )
    d38 = "decimal(38,0)"
    s = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n").cast(d38) * F.col("sxy") - F.col("sx").cast(d38) * F.col("sy")).cast("double")
    dx = (F.col("n").cast(d38) * F.col("sxx") - F.col("sx").cast(d38) * F.col("sx")).cast("double")
    dy = (F.col("n").cast(d38) * F.col("syy") - F.col("sy").cast(d38) * F.col("sy")).cast("double")
    # degenerate variance (every user identical on either axis — true
    # for total-active-weeks on the 30-day corpus): NULL, not an ANSI
    # divide-by-zero
    return s.select(
        F.col("n").cast("long").alias("n_users"),
        F.when((dx > 0) & (dy > 0), F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6))
        .alias("pearson_r"),
    )


_DOW_HOUR_SQL = """
    SELECT dayofweek(CAST(ts AS DATE)) + 1 AS dow,
           CAST(hour(ts) AS INT) AS hour,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(28,6))), 4) AS DOUBLE)
               AS sum_value
    FROM events
    GROUP BY 1, 2
"""


@op(
    "dow_hour_heatmap",
    oracle=_DOW_HOUR_SQL,
    tags=("timeseries", "calendar", "chart"),
)
def dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour-of-day activity grid — the calendar heatmap
    feed behind every ops dashboard ('when are we busy?'). One
    map-side-combinable aggregation to the bounded 7x24 grid; the
    DuckDB dow is shifted +1 to Spark's Sunday=1 convention (the same
    seam dow_adjusted_spike_days documents)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.dayofweek(F.to_date("ts")).alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        _sum4_value().alias("sum_value"),
    )


@op(
    "concurrency_duration_profile",
    oracle=f"""{_SESSION_BOUNDS_CTES}, running AS (
        SELECT sum(delta) OVER (ORDER BY ts, delta
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS live,
               epoch_us(lead(ts) OVER (ORDER BY ts, delta)) - epoch_us(ts)
                   AS dur_us
        FROM bounds
    )
    SELECT CAST(live AS BIGINT) AS concurrency,
           CAST(sum(dur_us) AS BIGINT) AS total_micros
    FROM running WHERE dur_us IS NOT NULL
    GROUP BY 1
    """,
    tags=("timeseries", "window", "scale-pattern"),
)
def concurrency_duration_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How long the system spent at EACH concurrency level (the load
    duration curve behind capacity sizing — max_concurrent_sessions
    gives the peak, this gives the whole distribution, idle time
    included). The oracle states the textbook global sweep-line with a
    global lead; the Spark plan replaces BOTH scale-killers: the running
    level uses the hourly-bucket two-pass prefix sum (as
    max_concurrent_sessions), and the global lead(ts) becomes an
    in-bucket lead stitched across buckets by joining the bounded
    bucket table's next-bucket min — no unpartitioned window touches
    event-scale rows. Durations are exact integer microseconds;
    zero-length states from tied boundaries contribute 0 to every
    level, so tie order cannot change any total."""
    bucketed = _hourly_session_bounds(spark, sf_dir)
    per_bucket = bucketed.groupBy("bucket").agg(
        F.sum("delta").alias("bsum"), F.min("ts").alias("bmin")
    )
    w_buckets = Window.orderBy("bucket")
    w_off = w_buckets.rowsBetween(Window.unboundedPreceding, -1)
    # bounded (calendar-hours) table: running offset + next bucket's
    # first boundary, both broadcast back onto the event-scale rows
    bucket_meta = per_bucket.select(
        "bucket",
        F.coalesce(F.sum("bsum").over(w_off), F.lit(0)).alias("offset"),
        F.lead("bmin").over(w_buckets).alias("next_bmin"),
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("ts", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_lead = Window.partitionBy("bucket").orderBy("ts", "delta")
    running = (
        bucketed.join(bucket_meta, "bucket")
        .select(
            (F.col("offset") + F.sum("delta").over(w_in)).alias("live"),
            (
                F.unix_micros(
                    F.coalesce(F.lead("ts").over(w_lead), F.col("next_bmin"))
                )
                - F.unix_micros("ts")
            ).alias("dur_us"),
        )
    )
    return (
        running.filter(F.col("dur_us").isNotNull())
        .groupBy(F.col("live").cast("long").alias("concurrency"))
        .agg(F.sum("dur_us").cast("long").alias("total_micros"))
    )


# ---------------------------------------------------------------------------
# Dynamic-gap session windows (Spark session_window with a per-event gap)
# ---------------------------------------------------------------------------

_DYNGAP_SQL = """
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               epoch_us(ts) + CASE WHEN event_type = 'purchase'
                                   THEN 1800000000 ELSE 600000000 END AS end_us
        FROM events
    ), f AS (
        SELECT user_id, ts_us,
               max(end_us) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        FROM e
    )
    SELECT user_id,
           CAST(sum(CASE WHEN prev_end IS NULL OR ts_us > prev_end
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events
    FROM f GROUP BY user_id
"""


@op("session_window_dynamic_gap", oracle=_DYNGAP_SQL, tags=("timeseries", "session"))
def session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows whose inactivity gap depends on the EVENT — a
    purchase holds the session open 30 minutes, anything else 10
    (checkout flows idle longer than browsing) — via Spark's dynamic
    ``session_window(ts, CASE ...)``, the per-event-gap feature the
    fixed-gap ops (session_window_10m / sessionize_gap) can't express.
    State is watermark-bounded in the streaming twin and key-local
    here: one shuffle on user_id, merge inside the group. The oracle
    states the interval-union semantics directly: an event opens a new
    session iff its start is strictly AFTER the running max of all
    earlier events' (ts + its own gap) — Spark's merge rule is
    boundary-INCLUSIVE (an event landing exactly at the previous end
    merges into it; pytest pins this, the corpus's microsecond
    timestamps structurally can't). Ties ordered by event_id on both
    sides."""
    e = _t(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "purchase", F.lit("30 minutes")).otherwise(
        F.lit("10 minutes")
    )
    sess = (
        e.groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n_ev"))
    )
    return sess.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_ev").cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Classical additive decomposition of the daily revenue series
# ---------------------------------------------------------------------------

_D38 = "decimal(38,0)"

_DECOMP_SQL = """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100
                             AS HUGEINT)) AS HUGEINT) AS cents
        FROM orders GROUP BY 1
    ), tr AS (
        SELECT day, cents,
               CASE WHEN count(*) OVER w7 = 7 THEN
                   (2 * sum(cents) OVER w7 + 7) // 14
               END AS trend_cents
        FROM daily
        WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), det AS (
        SELECT day, cents, trend_cents,
               cents - trend_cents AS detr,
               (day - DATE '1970-01-01') % 7 AS dow
        FROM tr
    ), seas AS (
        SELECT *,
               CASE WHEN sum(detr) OVER wd < 0 THEN -1 ELSE 1 END
               * ((2 * abs(sum(detr) OVER wd) + count(detr) OVER wd)
                  // (2 * count(detr) OVER wd)) AS seasonal_cents
        FROM det
        WINDOW wd AS (PARTITION BY dow)
    )
    SELECT day, CAST(cents AS BIGINT) AS revenue_cents,
           CAST(trend_cents AS BIGINT) AS trend_cents,
           CAST(seasonal_cents AS BIGINT) AS seasonal_cents,
           CAST(detr - seasonal_cents AS BIGINT) AS residual_cents
    FROM seas
"""


@op("ts_decompose_daily", oracle=_DECOMP_SQL, tags=("timeseries", "stats"))
def ts_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive time-series decomposition of daily revenue —
    trend (centered 7-day moving average), day-of-week seasonal (mean
    of the detrended values per dow), residual — entirely in exact
    integer cents: the MA is the half-up rational (2*S7+7)//14, the
    seasonal mean is sign-split half-up, residual is a subtraction, so
    revenue == trend + seasonal + residual reconstructs exactly where
    defined and every column hash-matches the oracle. Edge days (<7-day
    window) carry NULL trend/residual, the classical convention.
    Scale shape: one map-side-combined groupBy collapses facts to the
    ~1.1k-row calendar; every window after that is calendar-bounded
    (documented-bounded class); dow is epoch-day arithmetic — no
    locale/calendar seam."""
    o = _t(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum((F.col("o_totalprice").cast("decimal(28,6)") * 100).cast(_D38))
            .alias("cents")
        )
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "cents",
        F.when(
            F.count(F.lit(1)).over(w7) == 7,
            exact_floor_div(2 * F.sum("cents").over(w7) + 7, F.lit(14)),
        ).alias("trend_cents"),
    )
    det = tr.select(
        "day",
        "cents",
        "trend_cents",
        (F.col("cents") - F.col("trend_cents")).alias("detr"),
        (F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) % 7).alias("dow"),
    )
    wd = Window.partitionBy("dow")
    s_d = F.sum("detr").over(wd)
    n_d = F.count("detr").over(wd)
    seasonal = F.when(s_d < 0, -1).otherwise(1) * exact_floor_div(
        2 * F.abs(s_d) + n_d, 2 * n_d
    )
    seas = det.withColumn("seasonal_cents", seasonal)
    return seas.select(
        "day",
        F.col("cents").cast("long").alias("revenue_cents"),
        F.col("trend_cents").cast("long").alias("trend_cents"),
        F.col("seasonal_cents").cast("long").alias("seasonal_cents"),
        (F.col("detr") - F.col("seasonal_cents")).cast("long").alias("residual_cents"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP) of the value series per day and type
# ---------------------------------------------------------------------------

_TWAP_SQL = f"""
    WITH e AS (
        SELECT CAST(ts AS DATE) AS day, event_type, event_id,
               epoch_us(ts) AS ts_us,
               CAST(CAST(value AS DECIMAL(18,6)) * 100 AS HUGEINT) AS cents
        FROM events
    ), d AS (
        SELECT day, event_type, cents,
               coalesce(lead(ts_us) OVER (PARTITION BY day, event_type
                                          ORDER BY ts_us, event_id),
                        epoch_us(CAST(day + 1 AS TIMESTAMP))) - ts_us AS dur_us
        FROM e
    )
    SELECT day, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(dur_us) AS BIGINT) AS covered_us,
           {oracle_ratio_round('sum(cents * dur_us)', 'sum(dur_us)')} AS twap_cents
    FROM d GROUP BY day, event_type
"""


@op("twap_daily_value", oracle=_TWAP_SQL, tags=("timeseries", "finance"))
def twap_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-WEIGHTED average price per (day, event_type) — the fair
    average of an irregularly-sampled series, where each observation
    holds from its timestamp until the next one (the last until
    midnight): the finance-standard TWAP that a plain avg() gets wrong
    whenever sampling density correlates with the value. Durations are
    exact integer microseconds from a (day, type)-keyed lead window —
    one shuffle, no global sort; value*duration products accumulate in
    DECIMAL(38,0) and the TWAP is one half-up rational. Companion to
    ohlc_bars_hourly (position in time) and decay_weighted_revenue
    (weight by recency); ties ordered by event_id on both engines."""
    e = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"),
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        (F.col("value").cast("decimal(18,6)") * 100).cast(_D38).alias("cents"),
    )
    w = Window.partitionBy("day", "event_type").orderBy("ts_us", "event_id")
    day_end_us = F.unix_micros(F.date_add(F.col("day"), 1).cast("timestamp"))
    d = e.select(
        "day",
        "event_type",
        "cents",
        (
            F.coalesce(F.lead("ts_us").over(w), day_end_us) - F.col("ts_us")
        ).cast(_D38).alias("dur_us"),
    )
    return d.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("dur_us").cast("long").alias("covered_us"),
        ratio_round(F.sum(F.col("cents") * F.col("dur_us")), F.sum("dur_us")).alias(
            "twap_cents"
        ),
    )


# ---------------------------------------------------------------------------
# Markov matrix power: 3-step reach probability via relational matmul
# ---------------------------------------------------------------------------

def _transition_sql(cols: str) -> str:
    """``WITH o``: ``cols`` of every event plus the user's previous
    event type; then the (a -> b) transition counts ``c`` and each
    source's row total ``r``."""
    return f"""
    WITH o AS (
        SELECT {cols},
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ), c AS (
        SELECT prev_type AS a, event_type AS b,
               CAST(count(*) AS HUGEINT) AS n
        FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ), r AS (
        SELECT a, sum(n) AS rt FROM c GROUP BY 1
    )"""


_MK3_SQL = f"""{_transition_sql("user_id, event_type")}, p AS (
        SELECT c.a, c.b, (2 * 1000000 * c.n + r.rt) // (2 * r.rt) AS pm
        FROM c JOIN r USING (a)
    ), p2 AS (
        SELECT x.a, y.b, sum(x.pm * y.pm) AS v
        FROM p x JOIN p y ON x.b = y.a GROUP BY 1, 2
    ), p3 AS (
        SELECT x.a, y.b, sum(x.v * y.pm) AS v
        FROM p2 x JOIN p y ON x.b = y.a GROUP BY 1, 2
    )
    SELECT a AS start_type,
           CAST((2 * v + 1000000000000) // 2000000000000 AS BIGINT)
               AS p3_purchase_micro
    FROM p3 WHERE b = 'purchase'
"""


@op("markov_3step_purchase", oracle=_MK3_SQL, tags=("timeseries", "markov", "join"))
def markov_3step_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability of being at 'purchase' exactly THREE transitions
    after each starting event type, computed as the matrix power P^3
    with MATRIX MULTIPLICATION AS EQUI-JOINS over the bounded
    |types|x|types| transition table — the next-event-prediction
    rollout built on event_transition_matrix's chain. Each P entry is
    quantized ONCE to half-up micro (the anova quantize-once seam);
    both multiplications then run in exact integer arithmetic at
    micro^2 / micro^3 scale and the result is one half-up rescale —
    so an inherently iterative linear-algebra computation stays
    hash-portable. Only the lag pass touches event-scale data; the
    matmuls join 7x7 tables."""
    c = _transition_counts(spark, sf_dir)
    r = c.groupBy("a").agg(F.sum("n").alias("rt"))
    p = c.join(r, "a").select(
        "a",
        "b",
        exact_floor_div(2 * 1_000_000 * F.col("n") + F.col("rt"), 2 * F.col("rt"))
        .alias("pm"),
    )
    x = p.select(F.col("a"), F.col("b").alias("k"), F.col("pm").alias("px"))
    y = p.select(F.col("a").alias("k"), F.col("b"), F.col("pm").alias("py"))
    p2 = x.join(y, "k").groupBy("a", "b").agg(F.sum(F.col("px") * F.col("py")).alias("v"))
    x2 = p2.select("a", F.col("b").alias("k"), F.col("v").alias("vx"))
    p3 = x2.join(y, "k").groupBy("a", "b").agg(F.sum(F.col("vx") * F.col("py")).alias("v"))
    return p3.filter(F.col("b") == "purchase").select(
        F.col("a").alias("start_type"),
        exact_floor_div(
            2 * F.col("v") + F.lit(10**12).cast(_D38),
            F.lit(2 * 10**12).cast(_D38),
        ).cast("long").alias("p3_purchase_micro"),
    )


_MKH_SQL = f"""{_transition_sql("event_type")}, term AS (
        SELECT c.n,
               -CAST(round(ln(CAST(c.n AS DOUBLE) / CAST(r.rt AS DOUBLE))
                           * 1000000) AS BIGINT) AS nl
        FROM c JOIN r USING (a)
    )
    SELECT CAST(sum(n) AS BIGINT) AS n_transitions,
           CAST((2 * 1000000 * sum(n * nl) + sum(n) * 1000000)
                // (2 * sum(n) * 1000000) AS DOUBLE) / 1000000 AS h_cond_nats
    FROM term
"""


@op("markov_conditional_entropy", oracle=_MKH_SQL, tags=("timeseries", "markov", "stats"))
def markov_conditional_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy H(next | prev) of the user-journey Markov
    chain — the PREDICTABILITY ceiling of next-event prediction in
    nats (0 = journeys are deterministic, ln|types| = the previous
    event tells you nothing), weighting each transition's -ln p by its
    empirical frequency. The transition-level ln is micro-nat-rounded
    ONCE; the expectation is then exact integer weighting over the
    bounded |types|^2 table with one half-up division — the
    information-theoretic companion to event_transition_matrix and
    markov_3step_purchase (and activity_entropy's conditional
    sibling)."""
    c = _transition_counts(spark, sf_dir)
    r = c.groupBy("a").agg(F.sum("n").alias("rt"))
    nl = (
        -F.round(
            F.log(F.col("n").cast("double") / F.col("rt").cast("double")) * 1_000_000
        ).cast("long")
    ).cast(_D38)
    term = c.join(r, "a").select("n", nl.alias("nl"))
    agg = term.agg(
        F.sum("n").alias("nn"), F.sum(F.col("n") * F.col("nl")).alias("wsum")
    )
    return agg.select(
        F.col("nn").cast("long").alias("n_transitions"),
        ratio_round(F.col("wsum"), F.col("nn") * 1_000_000).alias("h_cond_nats"),
    )


# ---------------------------------------------------------------------------
# Robust regression: Theil-Sen slope of the daily revenue series
# ---------------------------------------------------------------------------

_TS_SLOPE_SQL = """
    WITH daily AS (
        SELECT (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS d,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100
                             AS HUGEINT)) AS HUGEINT) AS cents
        FROM orders GROUP BY 1
    ), pairs AS (
        SELECT CASE WHEN b.cents >= a.cents THEN 1 ELSE -1 END
               * ((2 * 1000000 * abs(b.cents - a.cents) + (b.d - a.d))
                  // (2 * (b.d - a.d))) AS slope_micro
        FROM daily a JOIN daily b ON b.d > a.d
    ), n AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs
    )
    SELECT n.n_pairs,
           CAST(median(slope_micro) AS DOUBLE) AS theil_sen_slope_micro
    FROM pairs CROSS JOIN n
    GROUP BY n.n_pairs
"""


@op("theil_sen_daily_slope", oracle=_TS_SLOPE_SQL, tags=("timeseries", "robust", "stats"))
def theil_sen_daily_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimate of daily revenue: the MEDIAN of
    all pairwise day-to-day slopes — up to ~29% of days can be
    corrupted (holiday spikes, backfill gaps) before the estimate
    moves, where OLS (rolling_trend_slope's family) chases every
    outlier. Each pairwise slope is quantized ONCE to half-up signed
    micro-cents/day, so the median runs over exact integers (the exact
    -percentile seam). The pair join is ~600k rows at ANY corpus size
    because it runs on the calendar-bounded daily aggregate — the
    documented bounded-domain class, quadratic only in days, never in
    orders."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")).alias("d")
    ).agg(
        F.sum((F.col("o_totalprice").cast("decimal(28,6)") * 100).cast(_D38)).alias("cents")
    )
    a = daily.select(F.col("d").alias("da"), F.col("cents").alias("ca"))
    b = daily.select(F.col("d").alias("db"), F.col("cents").alias("cb"))
    diff = F.col("cb") - F.col("ca")
    gap = (F.col("db") - F.col("da")).cast(_D38)
    slope = F.when(diff >= 0, 1).otherwise(-1) * exact_floor_div(
        2 * 1_000_000 * F.abs(diff) + gap, 2 * gap
    )
    pairs = a.join(b, F.col("db") > F.col("da")).select(
        slope.cast("long").alias("slope_micro")
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("percentile(slope_micro, 0.5)").alias("theil_sen_slope_micro"),
    )


_SEAS_STRENGTH_SQL = f"""
    WITH dc AS ({_DECOMP_SQL})
    SELECT CAST(count(residual_cents) AS BIGINT) AS n_days,
           CASE WHEN count(residual_cents) * sum(
                    (seasonal_cents + residual_cents)
                    * (seasonal_cents + residual_cents))
                    - sum(seasonal_cents + residual_cents)
                      * sum(seasonal_cents + residual_cents) > 0 THEN
               round(greatest(0.0, 1.0 -
                   CAST(count(residual_cents) * sum(residual_cents * residual_cents)
                        - sum(residual_cents) * sum(residual_cents) AS DOUBLE)
                   / CAST(count(residual_cents) * sum(
                         (seasonal_cents + residual_cents)
                         * (seasonal_cents + residual_cents))
                         - sum(seasonal_cents + residual_cents)
                           * sum(seasonal_cents + residual_cents) AS DOUBLE)), 6)
           END AS seasonal_strength
    FROM dc WHERE residual_cents IS NOT NULL
"""


@op("seasonal_strength_daily", oracle=_SEAS_STRENGTH_SQL, tags=("timeseries", "stats"))
def seasonal_strength_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman's seasonal-strength statistic F_s = max(0, 1 -
    Var(residual)/Var(seasonal+residual)) over the additive
    decomposition — the single forecastability number ('is day-of-week
    worth modeling?') that summarizes ts_decompose_daily the way ECE
    summarizes the calibration curve. COMPOSES the registered
    decomposition op, so the statistic can't drift from the curve
    users see; both variances are n*Σx² − (Σx)² integer accumulators
    over the detrended days (edge days with NULL trend excluded, the
    classical convention), and the ratio is one IEEE divide rounded
    once. NULL when the detrended series is constant (strength
    undefined)."""
    dc = ts_decompose_daily(spark, sf_dir).filter(F.col("residual_cents").isNotNull())
    det = (F.col("seasonal_cents") + F.col("residual_cents")).cast(_D38)
    res = F.col("residual_cents").cast(_D38)
    s = dc.agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum(res).alias("sr"),
        F.sum(res * res).alias("srr"),
        F.sum(det).alias("sd"),
        F.sum(det * det).alias("sdd"),
    )
    var_res = F.col("n") * F.col("srr") - F.col("sr") * F.col("sr")
    var_det = F.col("n") * F.col("sdd") - F.col("sd") * F.col("sd")
    return s.select(
        F.col("n").cast("long").alias("n_days"),
        F.when(
            var_det > 0,
            F.round(
                F.greatest(
                    F.lit(0.0),
                    1.0 - var_res.cast("double") / var_det.cast("double"),
                ),
                6,
            ),
        ).alias("seasonal_strength"),
    )


# ---------------------------------------------------------------------------
# Conformal prediction interval for the seasonal-naive daily forecast
# ---------------------------------------------------------------------------

_CONF_SQL = """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100
                             AS HUGEINT)) AS HUGEINT) AS cents
        FROM orders GROUP BY 1
    ), r AS (
        SELECT abs(cents - lag(cents, 7) OVER (ORDER BY day)) AS ae
        FROM daily
    ), e AS (
        SELECT ae FROM r WHERE ae IS NOT NULL
    ), q AS (
        SELECT CAST(quantile_cont(CAST(ae AS DOUBLE), 0.95) AS DOUBLE) AS q95
        FROM e
    )
    SELECT CAST(count(*) AS BIGINT) AS n_scored_days,
           q.q95 AS q95_abs_err_cents,
           CAST(sum(CASE WHEN CAST(ae AS DOUBLE) <= q.q95 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered
    FROM e CROSS JOIN q
    GROUP BY q.q95
"""


@op("conformal_daily_interval", oracle=_CONF_SQL, tags=("timeseries", "ml", "uncertainty"))
def conformal_daily_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-free conformal prediction interval for the seasonal-naive
    daily revenue forecast: the 95th percentile of historical absolute
    lag-7 errors IS the distribution-free interval half-width —
    tomorrow's forecast ± q95 covers ~95% of days with NO
    distributional assumption (the uncertainty companion to
    forecast_backtest_naive, which scores the point forecast this op
    wraps an interval around). Errors are exact integer cents from a
    calendar-bounded lag window; the quantile is the exact-percentile
    seam over the ~1.1k-day error table and the coverage count is a
    boundary-free integer<=double comparison (q95 interpolates between
    integer errors on both engines identically)."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum((F.col("o_totalprice").cast("decimal(28,6)") * 100).cast(_D38)).alias(
            "cents"
        )
    )
    w = Window.orderBy("day")
    e = daily.select(
        F.abs(F.col("cents") - F.lag("cents", 7).over(w)).alias("ae")
    ).filter(F.col("ae").isNotNull())
    q = e.agg(F.expr("percentile(CAST(ae AS DOUBLE), 0.95)").alias("q95"))
    return (
        e.crossJoin(q)
        .groupBy("q95")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored_days"),
            F.sum((F.col("ae").cast("double") <= F.col("q95")).cast("int"))
            .cast("long")
            .alias("n_covered"),
        )
        .select(
            "n_scored_days",
            F.col("q95").alias("q95_abs_err_cents"),
            "n_covered",
        )
    )


# ---------------------------------------------------------------------------
# Multi-touch attribution: first / last / linear credit per channel
# ---------------------------------------------------------------------------

_ATTR_WINDOW_US = 24 * 3600 * 1_000_000

_ATTR_SQL = f"""
    WITH p AS (
        SELECT event_id AS pid, user_id, epoch_us(ts) AS pts
        FROM events WHERE event_type = 'purchase'
    ), tch AS (
        SELECT event_id AS tid, user_id, event_type AS ch, epoch_us(ts) AS tts
        FROM events WHERE event_type IN ('view', 'click')
    ), j AS (
        SELECT p.pid, tch.ch, tch.tts, tch.tid
        FROM p JOIN tch ON tch.user_id = p.user_id
                       AND tch.tts < p.pts
                       AND tch.tts >= p.pts - {_ATTR_WINDOW_US}
    ), per AS (
        SELECT pid, CAST(count(*) AS HUGEINT) AS n FROM j GROUP BY pid
    ), rk AS (
        SELECT pid, ch,
               row_number() OVER (PARTITION BY pid ORDER BY tts ASC, tid ASC)
                   AS rf,
               row_number() OVER (PARTITION BY pid ORDER BY tts DESC, tid DESC)
                   AS rl
        FROM j
    ), linsum AS (
        SELECT ch, CAST(sum(lc) AS BIGINT) AS linear_credit_micro FROM (
            SELECT j.ch, per.pid,
                   (2 * 1000000 * CAST(count(*) AS HUGEINT) + per.n)
                   // (2 * per.n) AS lc
            FROM j JOIN per USING (pid)
            GROUP BY j.ch, per.pid, per.n
        ) GROUP BY ch
    ), fl AS (
        SELECT ch, CAST(count(*) AS BIGINT) AS n_first
        FROM rk WHERE rf = 1 GROUP BY 1
    ), ll AS (
        SELECT ch, CAST(count(*) AS BIGINT) AS n_last
        FROM rk WHERE rl = 1 GROUP BY 1
    )
    SELECT linsum.ch AS channel,
           coalesce(fl.n_first, 0) AS n_first_touch,
           coalesce(ll.n_last, 0) AS n_last_touch,
           linsum.linear_credit_micro
    FROM linsum
    LEFT JOIN fl ON fl.ch = linsum.ch
    LEFT JOIN ll ON ll.ch = linsum.ch
"""


@op("attribution_models_compare", oracle=_ATTR_SQL, tags=("timeseries", "attribution"))
def attribution_models_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three marketing-attribution models side by side — first-touch,
    last-touch, and linear credit per channel over each purchase's
    24-hour touch window — the comparison table that decides channel
    budgets (view_purchase_attribution is the single-touch streaming
    member; this is the multi-touch batch generalization). The
    purchase-touch join is keyed on the USER with a time-range
    residual (per-user fan-out, never a global product); first/last
    are deterministic (ts, event_id) arg-min/max; each purchase's
    linear shares m/n are quantized once to half-up micro so the
    per-channel totals are exact integer sums. Purchases with no
    prior touch are unattributed and drop out, as every model
    requires."""
    e = _t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.unix_micros("ts").alias("pts"),
    )
    tch = e.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("tid"),
        "user_id",
        F.col("event_type").alias("ch"),
        F.unix_micros("ts").alias("tts"),
    )
    j = p.join(tch, "user_id").filter(
        (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.col("pts") - _ATTR_WINDOW_US)
    )
    per = j.groupBy("pid").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.min_by("ch", F.struct("tts", "tid")).alias("first_ch"),
        F.max_by("ch", F.struct("tts", "tid")).alias("last_ch"),
    )
    lin = (
        j.join(per.select("pid", "n"), "pid")
        .groupBy("ch", "pid", "n")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("m"))
        .select(
            "ch",
            exact_floor_div(
                2 * 1_000_000 * F.col("m") + F.col("n"), 2 * F.col("n")
            ).alias("lc"),
        )
        .groupBy("ch")
        .agg(F.sum("lc").cast("long").alias("linear_credit_micro"))
    )
    fl = per.groupBy(F.col("first_ch").alias("ch")).agg(
        F.count(F.lit(1)).cast("long").alias("n_first")
    )
    ll = per.groupBy(F.col("last_ch").alias("ch")).agg(
        F.count(F.lit(1)).cast("long").alias("n_last")
    )
    return (
        lin.join(fl, "ch", "left")
        .join(ll, "ch", "left")
        .select(
            F.col("ch").alias("channel"),
            F.coalesce("n_first", F.lit(0)).cast("long").alias("n_first_touch"),
            F.coalesce("n_last", F.lit(0)).cast("long").alias("n_last_touch"),
            "linear_credit_micro",
        )
    )


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing (alpha = beta = 1/2) over daily revenue,
# entirely JVM-side: the recursive level/trend recurrence runs as ONE
# higher-order fold over the calendar-bounded daily array — the
# all-built-in counterpart of ema_per_user's applyInPandas recursion.
# Integer cents end to end; each step's level and trend round half-away
# ONCE, so both engines walk the identical integer sequence.

_HOLT_SQL = """
    WITH RECURSIVE daily AS MATERIALIZED (
        SELECT day, cents,
               row_number() OVER (ORDER BY day) AS rn
        FROM (
            SELECT CAST(date_trunc('day', CAST(o_orderdate AS DATE)) AS DATE)
                       AS day,
                   CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100
                                 AS HUGEINT)) AS BIGINT) AS cents
            FROM orders GROUP BY 1
        )
    ), walk AS (
        SELECT day, rn, cents, cents AS level, CAST(0 AS BIGINT) AS trend
        FROM daily WHERE rn = 1
        UNION ALL
        SELECT d.day, d.rn, d.cents,
               lv.l AS level,
               CASE WHEN (lv.l - w.level + w.trend) < 0
                    THEN -((-(lv.l - w.level + w.trend) + 1) // 2)
                    ELSE ((lv.l - w.level + w.trend) + 1) // 2 END AS trend
        FROM walk w
        JOIN daily d ON d.rn = w.rn + 1,
        LATERAL (SELECT CASE WHEN (d.cents + w.level + w.trend) < 0
                      THEN -((-(d.cents + w.level + w.trend) + 1) // 2)
                      ELSE ((d.cents + w.level + w.trend) + 1) // 2 END AS l) lv
    )
    SELECT day, cents, CAST(level AS BIGINT) AS level,
           CAST(trend AS BIGINT) AS trend,
           CAST(level + trend AS BIGINT) AS forecast_next
    FROM walk
"""


def _half_away2(v):
    """round-half-away-from-zero of v/2 on integer-valued DECIMAL(38,0)
    columns (exact_floor_div floors correctly for negatives via pmod)."""
    d38 = "decimal(38,0)"
    vv = v.cast(d38)
    return F.when(
        vv < 0, -exact_floor_div(-vv + 1, F.lit(2))
    ).otherwise(exact_floor_div(vv + 1, F.lit(2)))


@op(
    "holt_linear_daily_revenue",
    oracle=_HOLT_SQL,
    tags=("timeseries", "forecast", "stateful", "fold"),
)
def holt_linear_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing over daily revenue
    (alpha = beta = 1/2): per day the smoothed level, trend, and the
    one-step-ahead forecast level+trend — the classic stateful
    recurrence l_t = (x_t + l_{t-1} + b_{t-1})/2,
    b_t = (l_t - l_{t-1} + b_{t-1})/2, every step rounded half-away
    ONCE to integer cents so the walk is bit-identical across engines
    (the oracle replays it as a recursive CTE). Unlike `ema_per_user`
    (applyInPandas recursion through Arrow), this is a pure JVM
    higher-order fold — F.aggregate over the day-ordered array — so
    the sequential dependency never leaves Tungsten.

    Scale shape: the fact table reduces map-side to the DAILY grain
    first; only the calendar-bounded series (thousands of rows at ANY
    corpus size) is folded, in one bounded single-row aggregate. The
    same fold per key (partitioned groupBy before collect) is how
    per-entity smoothing scales out."""
    o = _t(spark, sf_dir, "orders")
    d38 = "decimal(38,0)"
    daily = o.groupBy(
        F.date_trunc("day", F.to_date("o_orderdate")).cast("date").alias("day")
    ).agg(
        (
            F.sum((F.col("o_totalprice").cast("decimal(28,6)") * 100).cast(d38))
        )
        .cast("long")
        .alias("cents")
    )
    xs = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "cents"))).alias("xs")
    )
    zero = F.lit(0).cast("long")
    init = F.struct(
        zero.alias("l"),
        zero.alias("b"),
        F.lit(0).alias("n"),
        F.array()
        .cast(
            "array<struct<day:date,cents:bigint,level:bigint,trend:bigint>>"
        )
        .alias("out"),
    )

    def step(acc, x):
        first = acc["n"] == 0
        l_new = F.when(first, x["cents"]).otherwise(
            _half_away2(x["cents"] + acc["l"] + acc["b"]).cast("long")
        )
        b_new = F.when(first, zero).otherwise(
            _half_away2(l_new - acc["l"] + acc["b"]).cast("long")
        )
        entry = F.struct(
            x["day"].alias("day"),
            x["cents"].alias("cents"),
            l_new.alias("level"),
            b_new.alias("trend"),
        )
        return F.struct(
            l_new.alias("l"),
            b_new.alias("b"),
            (acc["n"] + 1).alias("n"),
            F.concat(acc["out"], F.array(entry)).alias("out"),
        )

    folded = xs.select(F.aggregate("xs", init, step).alias("acc"))
    row = folded.select(F.explode(F.col("acc.out")).alias("r"))
    return row.select(
        F.col("r.day").alias("day"),
        F.col("r.cents").alias("cents"),
        F.col("r.level").alias("level"),
        F.col("r.trend").alias("trend"),
        (F.col("r.level") + F.col("r.trend")).cast("long").alias("forecast_next"),
    )
