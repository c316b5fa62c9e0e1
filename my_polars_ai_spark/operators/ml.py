"""ML / analytics operators (SURVEY.md §2b ML rows): correlation matrix,
imputation, confusion matrix, ROC points, k-means segmentation.

Reference evidence: shortcuts correlation-heatmap (reference
helpers/shortcuts.py:184-195), impute (42-60), confusion/ROC (197-241),
segment_customers (354-376).

All diagnostics are plain DataFrame aggregations/windows (oracle-checked);
only k-means uses pyspark.ml (seeded, rows-only check since cluster ids
are not portable across implementations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_polars_ai_spark.operators.base import (
    ROUND_RATIO,
    Op,
    make_registrar,
    oracle_ratio_round,
    ratio_round,
)
from my_polars_ai_spark.operators.relational import _nation_lines
from my_polars_ai_spark.sources.tables import load_table as _t

OPS: dict[str, Op] = {}
op = make_registrar(OPS)

# Deterministic binary labels/predictions derived from events: the "truth"
# is value>50, the "prediction" is props.k>50 — both arbitrary but fixed.
def _y_true():
    # lazy: Column construction needs an active SparkContext and these
    # modules must import before the driver builds its session
    return F.col("value") > 50.0


def _y_pred():
    return F.get_json_object("props", "$.k").cast("bigint") > 50


@op(
    "corr_matrix",
    oracle=f"""
    SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
           round(corr(l_quantity, l_extendedprice), {ROUND_RATIO}) AS pearson_r
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity', 'l_discount', round(corr(l_quantity, l_discount), {ROUND_RATIO}) FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', 'l_discount', round(corr(l_extendedprice, l_discount), {ROUND_RATIO}) FROM lineitem
    """,
    tags=("ml", "stats"),
)
def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation, flattened to rows (reference
    correlation-heatmap upstream agg). One pass over the fact table: all
    pairs aggregate in a single job, no per-pair scans."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), ROUND_RATIO).alias("qp"),
        F.round(F.corr("l_quantity", "l_discount"), ROUND_RATIO).alias("qd"),
        F.round(F.corr("l_extendedprice", "l_discount"), ROUND_RATIO).alias("pd"),
    )
    pairs = F.array(
        F.struct(F.lit("l_quantity").alias("col_a"), F.lit("l_extendedprice").alias("col_b"), F.col("qp").alias("pearson_r")),
        F.struct(F.lit("l_quantity").alias("col_a"), F.lit("l_discount").alias("col_b"), F.col("qd").alias("pearson_r")),
        F.struct(F.lit("l_extendedprice").alias("col_a"), F.lit("l_discount").alias("col_b"), F.col("pd").alias("pearson_r")),
    )
    return agg.select(F.explode(pairs).alias("p")).select("p.col_a", "p.col_b", "p.pearson_r")


@op(
    "impute_mean",
    oracle=f"""
    WITH spend AS (
        SELECT c_custkey,
               avg(o_totalprice) AS avg_spend
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey
    )
    SELECT c_custkey,
           round(coalesce(avg_spend, (SELECT avg(avg_spend) FROM spend)), {ROUND_RATIO}) AS avg_spend_imputed,
           avg_spend IS NULL AS was_missing
    FROM spend
    """,
    tags=("ml", "impute"),
)
def impute_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean imputation of missing values (reference impute shortcut,
    helpers/shortcuts.py:42-60): nulls arise for customers with no orders;
    they are filled with the global mean of the non-null values. The mean
    is computed distributed and broadcast back via a crossJoin of a 1-row
    aggregate — no driver-side collect."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    spend = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.avg("o_totalprice").alias("avg_spend"))
        .cache()  # feeds both the global-mean aggregate and the output
    )
    mean_row = spend.agg(F.avg("avg_spend").alias("__mean"))
    return (
        spend.crossJoin(mean_row)
        .select(
            "c_custkey",
            F.round(F.coalesce("avg_spend", "__mean"), ROUND_RATIO).alias("avg_spend_imputed"),
            F.col("avg_spend").isNull().alias("was_missing"),
        )
    )


@op(
    "confusion_matrix",
    oracle="""
    SELECT (value > 50.0) AS y_true,
           (CAST(json_extract_string(props, '$.k') AS BIGINT) > 50) AS y_pred,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
    tags=("ml", "eval"),
)
def confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix as grouped counts (reference
    helpers/shortcuts.py:197-219 upstream agg)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(_y_true().alias("y_true"), _y_pred().alias("y_pred"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@op(
    "roc_points",
    oracle=f"""
    WITH scored AS (
        SELECT value AS score,
               CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
                    THEN 1 ELSE 0 END AS label,
               event_id
        FROM events
    ), ranked AS (
        SELECT score, label,
               sum(label) OVER w AS cum_tp,
               sum(1 - label) OVER w AS cum_fp,
               row_number() OVER w AS rn
        FROM scored
        WINDOW w AS (ORDER BY score DESC, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT rn,
           round(cum_tp * 1.0 / (SELECT sum(label) FROM scored), {ROUND_RATIO}) AS tpr,
           round(cum_fp * 1.0 / (SELECT sum(1 - label) FROM scored), {ROUND_RATIO}) AS fpr
    FROM ranked
    WHERE rn % 100 = 0
    """,
    tags=("ml", "eval"),
)
def roc_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC curve points via cumulative TP/FP window sums over descending
    score (reference helpers/shortcuts.py:221-241 upstream computation),
    sampled every 100th rank to keep the result set bounded.

    NOTE: the global ORDER BY window serializes — fine for diagnostics
    output; at fact-table scale bucket the scores first (histogram-based
    ROC) instead."""
    e = _t(spark, sf_dir, "events")
    scored = e.select(
        F.col("value").alias("score"),
        F.when(_y_pred(), 1).otherwise(0).alias("label"),
        "event_id",
    )
    totals = scored.agg(
        F.sum("label").alias("__p"),
        F.sum(1 - F.col("label")).alias("__n"),
    )
    w = Window.orderBy(F.desc("score"), F.asc("event_id")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = scored.select(
        F.sum("label").over(w).alias("cum_tp"),
        F.sum(1 - F.col("label")).over(w).alias("cum_fp"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") % 100 == 0)
    return ranked.crossJoin(totals).select(
        "rn",
        F.round(F.col("cum_tp") / F.col("__p"), ROUND_RATIO).alias("tpr"),
        F.round(F.col("cum_fp") / F.col("__n"), ROUND_RATIO).alias("fpr"),
    )


@op(
    "kmeans_segments",
    oracle=None,  # cluster ids are implementation-specific; rows-only.
    tags=("ml", "cluster"),
)
def kmeans_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer segmentation with seeded k-means over (acctbal, n_orders,
    total_spend) — reference segment_customers shortcut
    (helpers/shortcuts.py:354-376) re-grounded on pyspark.ml."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    feats = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            F.count("o_orderkey").cast("double").alias("n_orders"),
            F.coalesce(F.sum("o_totalprice"), F.lit(0.0)).alias("total_spend"),
        )
    )
    assembled = VectorAssembler(
        inputCols=["c_acctbal", "n_orders", "total_spend"], outputCol="raw"
    ).transform(feats)
    scaled = (
        StandardScaler(inputCol="raw", outputCol="features", withMean=True)
        .fit(assembled)
        .transform(assembled)
    )
    model = KMeans(k=4, seed=42, featuresCol="features", predictionCol="cluster").fit(scaled)
    return model.transform(scaled).select("c_custkey", "cluster")


_ROC_TPR_ORACLE = oracle_ratio_round("cum_tp", "p_total")
_ROC_FPR_ORACLE = oracle_ratio_round("cum_fp", "n_total")


@op(
    "roc_points_bucketed",
    oracle=f"""
    WITH scored AS (
        SELECT LEAST(GREATEST(CAST(floor(value / 4) AS BIGINT), 0), 99) AS bucket,
               CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
                    THEN 1 ELSE 0 END AS label
        FROM events
    ), hist AS (
        SELECT bucket,
               CAST(sum(label) AS BIGINT) AS tp_b,
               CAST(sum(1 - label) AS BIGINT) AS fp_b
        FROM scored GROUP BY bucket
    ), cum AS (
        SELECT bucket,
               CAST(sum(tp_b) OVER w AS BIGINT) AS cum_tp,
               CAST(sum(fp_b) OVER w AS BIGINT) AS cum_fp
        FROM hist
        WINDOW w AS (ORDER BY bucket DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), tot AS (
        SELECT CAST(sum(tp_b) AS BIGINT) AS p_total, CAST(sum(fp_b) AS BIGINT) AS n_total
        FROM hist
    )
    SELECT CAST(bucket * 4 AS DOUBLE) AS threshold,
           {_ROC_TPR_ORACLE} AS tpr,
           {_ROC_FPR_ORACLE} AS fpr
    FROM cum CROSS JOIN tot
    """,
    tags=("ml", "eval", "approx"),
)
def roc_points_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe twin of roc_points: ROC on a fixed 100-threshold grid.
    Scores hash into fixed-width buckets (floor(value/4), clamped to
    [0, 99]) with map-side partial aggregation; cumulative TP/FP run over
    the <=100-row bucket histogram in descending-threshold order, never
    over the table — the single-partition window of the exact version
    disappears. tpr/fpr at threshold t = share of positives/negatives
    scoring >= t (integer-exact rounding, see base.ratio_round)."""
    e = _t(spark, sf_dir, "events")
    scored = e.select(
        F.least(
            F.greatest(F.floor(F.col("value") / 4).cast("long"), F.lit(0)), F.lit(99)
        ).alias("bucket"),
        F.when(_y_pred(), 1).otherwise(0).alias("label"),
    )
    hist = scored.groupBy("bucket").agg(
        F.sum("label").cast("long").alias("tp_b"),
        F.sum(1 - F.col("label")).cast("long").alias("fp_b"),
    )
    w = Window.orderBy(F.desc("bucket")).rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bucket",
        F.sum("tp_b").over(w).cast("long").alias("cum_tp"),
        F.sum("fp_b").over(w).cast("long").alias("cum_fp"),
    )
    tot = hist.agg(
        F.sum("tp_b").cast("long").alias("p_total"),
        F.sum("fp_b").cast("long").alias("n_total"),
    )
    return cum.crossJoin(tot).select(
        (F.col("bucket") * 4).cast("double").alias("threshold"),
        ratio_round(F.col("cum_tp"), F.col("p_total")).alias("tpr"),
        ratio_round(F.col("cum_fp"), F.col("n_total")).alias("fpr"),
    )


_PROFILE_COLS = ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")


@op(
    "profile_columns",
    oracle=" UNION ALL ".join(
        f"""SELECT '{c}' AS column_name,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count({c}) AS BIGINT) AS n_non_null,
                   CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
            FROM customer"""
        for c in _PROFILE_COLS
    ),
    tags=("profile", "metadata"),
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profiling (row/non-null/distinct counts per column) —
    the first query every data pipeline runs on a new table. One wide
    aggregation row (all counts in a single pass over the data), then a
    stack() unpivot to one row per column; no per-column scans."""
    c = _t(spark, sf_dir, "customer")
    wide = c.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.count(col).alias(f"nn_{col}") for col in _PROFILE_COLS],
        *[F.countDistinct(col).alias(f"nd_{col}") for col in _PROFILE_COLS],
    )
    stack = "stack({}, {}) AS (column_name, n_non_null, n_distinct)".format(
        len(_PROFILE_COLS),
        ", ".join(f"'{col}', nn_{col}, nd_{col}" for col in _PROFILE_COLS),
    )
    return wide.select(F.expr(stack), "n_rows").select(
        "column_name", "n_rows", "n_non_null", "n_distinct"
    )


@op(
    "feature_minmax_scale",
    oracle=f"""
    WITH cents AS (
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x_c
        FROM orders
    ), bounds AS (
        SELECT min(x_c) AS lo, max(x_c) AS hi FROM cents
    )
    SELECT o_orderkey,
           {oracle_ratio_round('c.x_c - b.lo', 'b.hi - b.lo')} AS scaled
    FROM cents c, bounds b
    """,
    tags=("ml", "feature", "scaling"),
)
def feature_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max feature scaling to [0, 1] — the ubiquitous ML-prep pass
    (pyspark.ml MinMaxScaler's semantics without the Vector detour).
    The bounds are a broadcast 1-row aggregate; the rescale is a narrow
    projection. Values convert to exact integer cents first and the
    ratio rounds by the shared integer half-up rule, so the scaled
    column hashes identically on both engines — no float division
    drift."""
    o = _t(spark, sf_dir, "orders")
    cents = o.select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("x_c"),
    )
    bounds = cents.agg(F.min("x_c").alias("lo"), F.max("x_c").alias("hi"))
    return cents.crossJoin(bounds).select(
        "o_orderkey",
        ratio_round(F.col("x_c") - F.col("lo"), F.col("hi") - F.col("lo")).alias("scaled"),
    )


@op(
    "groupwise_ols_slope",
    oracle=f"""
    WITH v AS (
        SELECT n.n_name,
               CAST(l.l_quantity AS HUGEINT) AS x,
               CAST(CAST(l.l_extendedprice AS DECIMAL(28,6)) * 100 AS HUGEINT) AS y
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
    ), sums AS (
        SELECT n_name,
               count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x*y) AS sxy, sum(x*x) AS sxx
        FROM v GROUP BY n_name
    ), d AS (
        SELECT n_name, CAST(n AS BIGINT) AS n,
               n*sxy - sx*sy AS num,
               n*sxx - sx*sx AS den
        FROM sums
    )
    SELECT n_name, n,
           CASE WHEN den = 0 THEN NULL ELSE
               CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
                    * ((2*{10**ROUND_RATIO}*abs(num) + den) // (2*den))
                    AS DOUBLE) / {10**ROUND_RATIO}
           END AS slope_cents_per_unit
    FROM d
    """,
    tags=("ml", "regression", "agg"),
)
def groupwise_ols_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares slope — price-per-additional-
    unit fitted per supplier nation: slope = (n*Σxy - Σx*Σy) /
    (n*Σx² - (Σx)²). The whole regression reduces to five distributive
    sums, so it map-side combines like any aggregate (one shuffle on
    the group key; dims broadcast into the fact scan) — regression at
    100 TB IS just a group-by. All moments accumulate in DECIMAL(38,0)
    exact integers (quantity is integral, price in cents), and the
    final rational rounds by the shared sign-split half-up integer
    division, so even a fitted coefficient hash-matches the oracle."""
    dec = "decimal(38,0)"
    v = (
        _nation_lines(spark, sf_dir)
        .select(
            "n_name",
            F.col("l_quantity").cast(dec).alias("x"),
            (F.col("l_extendedprice").cast("decimal(28,6)") * 100)
            .cast(dec).alias("y"),
        )
    )
    sums = v.groupBy("n_name").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    from my_polars_ai_spark.operators.base import signed_ratio_round

    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(den == 0, F.lit(None).cast("double")).otherwise(
        signed_ratio_round(num, den)
    )
    return sums.select(
        "n_name",
        F.col("n").cast("long").alias("n"),
        slope.alias("slope_cents_per_unit"),
    )


@op(
    "chi_square_lang_source",
    oracle=f"""
    WITH o AS (
        SELECT lang, source, CAST(count(*) AS HUGEINT) AS n_obs
        FROM documents GROUP BY 1, 2
    ), r AS (
        SELECT lang, sum(n_obs) AS row_tot FROM o GROUP BY 1
    ), c AS (
        SELECT source, sum(n_obs) AS col_tot FROM o GROUP BY 1
    ), t AS (
        SELECT sum(n_obs) AS grand FROM o
    )
    SELECT o.lang, o.source, CAST(o.n_obs AS BIGINT) AS n_obs,
           CAST((2*{10**ROUND_RATIO}*(o.n_obs*t.grand - r.row_tot*c.col_tot)
                                    *(o.n_obs*t.grand - r.row_tot*c.col_tot)
                 + r.row_tot*c.col_tot*t.grand)
                // (2*r.row_tot*c.col_tot*t.grand) AS BIGINT) AS contrib_micro
    FROM o JOIN r USING (lang) JOIN c USING (source) CROSS JOIN t
    """,
    tags=("ml", "stats", "agg"),
)
def chi_square_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence contributions for the language × source
    contingency table — 'is language mix independent of crawl source?',
    the categorical drift test run over corpus snapshots. Each cell's
    (O-E)²/E is computed WITHOUT floats via the algebraic identity
    (O·N - R·C)² / (R·C·N), half-up-rounded once to integer micro-units
    — a hash-exact statistical test. One fact-scan aggregation to the
    bounded cell table; row/column/grand totals are re-aggregations of
    the cells themselves (never a second scan), broadcast back onto the
    cells."""
    docs = _t(spark, sf_dir, "documents")
    dec = "decimal(38,0)"
    o = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast(dec).alias("n_obs")
    )
    r = o.groupBy("lang").agg(F.sum("n_obs").alias("row_tot"))
    c = o.groupBy("source").agg(F.sum("n_obs").alias("col_tot"))
    t = o.agg(F.sum("n_obs").alias("grand"))
    from my_polars_ai_spark.operators.base import exact_floor_div

    p = 10**ROUND_RATIO
    diff = (F.col("n_obs") * F.col("grand")
            - F.col("row_tot") * F.col("col_tot"))
    den = F.col("row_tot") * F.col("col_tot") * F.col("grand")
    contrib = exact_floor_div(2 * p * diff * diff + den, 2 * den)
    return (
        o.join(r, "lang")
        .join(c, "source")
        .crossJoin(t)
        .select(
            "lang", "source",
            F.col("n_obs").cast("long").alias("n_obs"),
            contrib.cast("long").alias("contrib_micro"),
        )
    )


@op(
    "gini_per_nation",
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey,
               sum(CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100 AS HUGEINT))
                   AS cents
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT n.n_name, s.cents,
               row_number() OVER (PARTITION BY n.n_name
                                  ORDER BY s.cents, s.o_custkey) AS i
        FROM spend s
        JOIN customer c ON c.c_custkey = s.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    ), sums AS (
        SELECT n_name, count(*) AS n, sum(cents) AS sx, sum(i * cents) AS six
        FROM ranked GROUP BY n_name
    )
    SELECT n_name, CAST(n AS BIGINT) AS n_customers,
           CAST((2*{10**ROUND_RATIO}*(2*six - (n+1)*sx) + (n*sx))
                // (2*(n*sx)) AS DOUBLE) / {10**ROUND_RATIO} AS gini
    FROM sums
    """,
    tags=("ml", "stats", "window"),
)
def gini_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend per nation — the revenue-
    concentration / inequality metric behind whale-risk dashboards,
    computed exactly: G = (2*Σ(i*x) - (n+1)*Σx) / (n*Σx) over spend
    ranked ascending within each nation (row_number with the customer
    key as total tiebreak, so the rank — and therefore G — is
    deterministic). The rank window partitions on nation and the
    moment sums are a plain group-by on the same key: two stages, both
    keyed, no global sort. Everything up to the final rounded ratio is
    DECIMAL(38,0) integer arithmetic."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    dec = "decimal(38,0)"
    spend = o.groupBy("o_custkey").agg(
        F.sum((F.col("o_totalprice").cast("decimal(28,6)") * 100).cast(dec))
        .cast(dec).alias("cents")
    )
    ranked = (
        spend.join(c.select("c_custkey", "c_nationkey"),
                   spend.o_custkey == c.c_custkey)
        .join(n.select("n_nationkey", "n_name"),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name", "cents",
            F.row_number().over(
                Window.partitionBy("n_name").orderBy("cents", "o_custkey")
            ).cast(dec).alias("i"),
        )
    )
    sums = ranked.groupBy("n_name").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("cents").alias("sx"),
        F.sum(F.col("i") * F.col("cents")).alias("six"),
    )
    from my_polars_ai_spark.operators.base import exact_floor_div

    p = 10**ROUND_RATIO
    num = 2 * F.col("six") - (F.col("n") + 1) * F.col("sx")
    den = F.col("n") * F.col("sx")
    gini = exact_floor_div(2 * p * num + den, 2 * den).cast("double") / p
    return sums.select(
        "n_name", F.col("n").cast("long").alias("n_customers"), gini.alias("gini")
    )


@op(
    "spearman_per_nation",
    oracle="""
    WITH m AS (
        SELECT c.c_nationkey, o.o_custkey,
               sum(CAST(CAST(o.o_totalprice AS DECIMAL(28,6)) * 100 AS HUGEINT))
                   AS cents,
               count(*) AS n_orders
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ), ranked AS (
        SELECT n.n_name,
               2*rank() OVER (PARTITION BY n.n_name ORDER BY m.cents)
                 + count(*) OVER (PARTITION BY n.n_name, m.cents) - 1 AS rx2,
               2*rank() OVER (PARTITION BY n.n_name ORDER BY m.n_orders)
                 + count(*) OVER (PARTITION BY n.n_name, m.n_orders) - 1 AS ry2
        FROM m JOIN nation n ON n.n_nationkey = m.c_nationkey
    ), sums AS (
        SELECT n_name, CAST(count(*) AS HUGEINT) AS n,
               sum(rx2) AS sx, sum(ry2) AS sy,
               sum(rx2*ry2) AS sxy, sum(rx2*rx2) AS sxx, sum(ry2*ry2) AS syy
        FROM ranked GROUP BY n_name
    )
    SELECT n_name, CAST(n AS BIGINT) AS n_customers,
           CASE WHEN (n*sxx - sx*sx) = 0 OR (n*syy - sy*sy) = 0 THEN NULL ELSE
               round(CAST(n*sxy - sx*sy AS DOUBLE)
                     / sqrt(CAST((n*sxx - sx*sx) * (n*syy - sy*sy) AS DOUBLE)), 6)
           END AS rho
    FROM sums
    """,
    tags=("ml", "stats", "window"),
)
def spearman_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between customer spend and order count
    per nation — the tie-robust monotonic-association test (Pearson on
    average ranks). Average ranks are kept integral by doubling:
    avg_rank*2 = 2*rank + tie_count - 1, so every moment sum is exact
    integer; only the final rho touches doubles, where IEEE sqrt and
    divide are correctly rounded and therefore engine-identical.
    Shape: per-nation rank windows (keyed, no global sort) + one
    moment aggregation on the same key."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    dec = "decimal(38,0)"
    m = (
        o.join(c.select("c_custkey", "c_nationkey"),
               o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum((F.col("o_totalprice").cast("decimal(28,6)") * 100).cast(dec))
            .cast(dec).alias("cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .join(nat.select("n_nationkey", "n_name"),
              F.col("c_nationkey") == F.col("n_nationkey"))
    )

    def rank2(col: str):
        return (
            2 * F.rank().over(Window.partitionBy("n_name").orderBy(col))
            + F.count(F.lit(1)).over(Window.partitionBy("n_name", col))
            - 1
        ).cast(dec)

    ranked = m.select(
        "n_name", rank2("cents").alias("rx2"), rank2("n_orders").alias("ry2")
    )
    sums = ranked.groupBy("n_name").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("rx2").alias("sx"),
        F.sum("ry2").alias("sy"),
        F.sum(F.col("rx2") * F.col("ry2")).alias("sxy"),
        F.sum(F.col("rx2") * F.col("rx2")).alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).alias("syy"),
    )
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    rho = F.when((dx == 0) | (dy == 0), F.lit(None).cast("double")).otherwise(
        F.round(num.cast("double") / F.sqrt((dx * dy).cast("double")), 6)
    )
    return sums.select(
        "n_name", F.col("n").cast("long").alias("n_customers"), rho.alias("rho")
    )
