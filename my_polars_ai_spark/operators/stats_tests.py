"""Statistical hypothesis tests + ML feature-prep operators (round 5).

The reference's analytics surface stops at descriptive stats
(reference helpers/shortcuts.py:184-241: correlation/confusion/ROC);
a data platform that curates 100 TB training corpora also needs the
INFERENTIAL layer — "did the distribution shift?", "is the difference
real?" — and the feature-prep layer (encodings, folds, leakage audits)
that sits between curation and training. Every op here follows the
house exactness contract (operators/base.py): integer/decimal
accumulators end-to-end, one IEEE-portable double expression at the
end, every computed column aliased identically in Spark and DuckDB.

Scale notes, applied throughout:
- No global single-partition windows: cumulative distribution sums (KS,
  Mann-Whitney) use the banded two-pass prefix-sum pattern from
  operators/text.py:global_shuffle_row_number — value-range bands give
  partition-parallel in-band windows plus a bounded (~20-row) offset
  aggregate that broadcasts back.
- Group-cardinality-bounded aggregates (5 priorities, 5 segments, 25
  brands, 7 lags, 64 hash buckets, 5x5 lang folds) keep every reduce
  tiny; the only fact-scale work is scans and hash-partitioned
  pre-aggregation, all map-side combinable.
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
    oracle_signed_ratio_round,
    ratio_round,
    signed_ratio_round,
)
from my_polars_ai_spark.sources.tables import load_table as _t

OPS: dict[str, Op] = {}
op = make_registrar(OPS)

_D38 = "decimal(38,0)"
_P = 10**ROUND_RATIO

# o_totalprice in exact integer cents (house convention — see
# operators/ml.py gini_per_nation / extras.py ar_aging_buckets).
# A function, not a module-level Column: building a Column needs an
# active SparkContext, and the registry must import Spark-lazily.
def _cents():
    return (F.col("o_totalprice").cast("decimal(28,6)") * 100).cast(_D38)


_CENTS_SQL = "CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100 AS HUGEINT)"

# Value-range band width for the two-pass ECDF prefix sums: $25k bands
# over o_totalprice (max ~$500k) => ~20 bands at any SF. Band id is
# monotone in the value, so (band-offset + in-band prefix) == the global
# ordered prefix, computed without a single-partition window.
_BAND_CENTS = 2_500_000


def _two_sample_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregated two-sample value table for the KS / Mann-Whitney pair:
    one row per distinct order-total (cents) among the compared groups,
    with per-group counts and exact global cumulative counts.

    Columns: cents, c1 (1-URGENT), c2 (5-LOW), t=c1+c2, cum1, cum2
    (cumulative over cents ascending, inclusive). The cumulatives come
    from per-band windows + a broadcast ~20-row band-offset table, so
    nothing sorts globally in one task.
    """
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    is1 = (F.col("o_orderpriority") == "1-URGENT").cast("int").cast(_D38)
    v = (
        o.select(_cents().alias("cents"), is1.alias("is1"))
        .groupBy("cents")
        .agg(
            F.sum("is1").alias("c1"),
            (F.count(F.lit(1)).cast(_D38) - F.sum("is1")).alias("c2"),
        )
        .withColumn("t", F.col("c1") + F.col("c2"))
        .withColumn("band", exact_floor_div(F.col("cents"), F.lit(_BAND_CENTS)))
    )
    w_in = Window.partitionBy("band").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    v = v.withColumn("in1", F.sum("c1").over(w_in)).withColumn(
        "in2", F.sum("c2").over(w_in)
    )
    bands = v.groupBy("band").agg(
        F.sum("c1").alias("b1"), F.sum("c2").alias("b2")
    )
    w_off = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
    zero = F.lit(0).cast(_D38)
    offsets = bands.select(
        "band",
        F.coalesce(F.sum("b1").over(w_off), zero).alias("off1"),
        F.coalesce(F.sum("b2").over(w_off), zero).alias("off2"),
    )
    return v.join(F.broadcast(offsets), "band").select(
        "cents",
        "c1",
        "c2",
        "t",
        (F.col("off1") + F.col("in1")).alias("cum1"),
        (F.col("off2") + F.col("in2")).alias("cum2"),
    )


# Per distinct order total of the 1-URGENT and 5-LOW arms: the counts
# c1 and c2 (the oracle side of _two_sample_value_counts, open after c2
# so a consumer can add columns to ``v``).
_TWO_SAMPLE_CTES = f"""
    WITH g AS (
        SELECT {_CENTS_SQL} AS cents,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS is1
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), v AS (
        SELECT cents,
               CAST(sum(is1) AS HUGEINT) AS c1,
               CAST(count(*) - sum(is1) AS HUGEINT) AS c2"""

_KS_SQL = f"""{_TWO_SAMPLE_CTES}
        FROM g GROUP BY cents
    ), w AS (
        SELECT sum(c1) OVER (ORDER BY cents) AS cum1,
               sum(c2) OVER (ORDER BY cents) AS cum2
        FROM v
    ), n AS (
        SELECT sum(c1) AS n1, sum(c2) AS n2 FROM v
    )
    SELECT CAST(n.n1 AS BIGINT) AS n_urgent,
           CAST(n.n2 AS BIGINT) AS n_low,
           CAST((2*{_P}*max(abs(w.cum1*n.n2 - w.cum2*n.n1)) + n.n1*n.n2)
                // (2*n.n1*n.n2) AS DOUBLE) / {_P} AS ks_d
    FROM w CROSS JOIN n
    GROUP BY n.n1, n.n2
"""


@op("ks_test_priority_totals", oracle=_KS_SQL, tags=("stats", "test", "agg"))
def ks_test_priority_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov D between the order-total
    distributions of 1-URGENT and 5-LOW orders — the distribution-shift
    test a corpus pipeline runs between snapshots ("did the length /
    score distribution move?"), done exactly: D's numerator
    max|cum1*n2 - cum2*n1| stays integer to the end and is half-up
    rounded once at micro precision. ECDF prefix sums use value-range
    bands (~20) + broadcast offsets — no global sort task."""
    # cache(): the value table feeds BOTH the totals reduce and the
    # deviation scan (a diamond) — without it the banded-window subtree
    # executes twice (measured 1.7s -> ~1s at sf0.1 in-bench).
    v = _two_sample_value_counts(spark, sf_dir).cache()
    n = v.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    d = (
        v.crossJoin(F.broadcast(n))
        .select(
            "n1",
            "n2",
            F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")).alias(
                "dev"
            ),
        )
        .groupBy("n1", "n2")
        .agg(F.max("dev").alias("max_dev"))
    )
    return d.select(
        F.col("n1").cast("long").alias("n_urgent"),
        F.col("n2").cast("long").alias("n_low"),
        ratio_round(F.col("max_dev"), F.col("n1") * F.col("n2")).alias("ks_d"),
    )


_MW_SQL = f"""{_TWO_SAMPLE_CTES},
               CAST(count(*) AS HUGEINT) AS t
        FROM g GROUP BY cents
    ), w AS (
        SELECT c1, t, sum(t) OVER (ORDER BY cents) - t AS cumb FROM v
    ), s AS (
        SELECT (SELECT sum(c1) FROM v) AS n1,
               (SELECT sum(c2) FROM v) AS n2,
               (SELECT sum(t) FROM v) AS n,
               sum(c1*(2*cumb + t + 1)) AS r1x2,
               sum(t*t*t - t) AS ties
        FROM w
    )
    SELECT CAST(n1 AS BIGINT) AS n_urgent,
           CAST(n2 AS BIGINT) AS n_low,
           CAST(r1x2 - n1*(n1+1) AS BIGINT) AS u1_x2,
           round(CAST(r1x2 - n1*(n1+1) - n1*n2 AS DOUBLE)
                 / (2 * nullif(sqrt(CAST(n1*n2*((n+1)*n*(n-1) - ties) AS DOUBLE)
                                    / CAST(12*n*(n-1) AS DOUBLE)), 0)), 6) AS z
    FROM s
"""


@op("mannwhitney_priority_totals", oracle=_MW_SQL, tags=("stats", "test", "agg"))
def mannwhitney_priority_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (rank-sum) for 1-URGENT vs 5-LOW order totals with
    exact tie handling: average ranks are kept integral by working with
    doubled ranks (2*R1 = sum c1*(2*cum_before + t + 1)), so U1*2 is an
    exact integer. The tie-corrected normal z is ONE double expression
    over exact integer accumulators — both engines cast the identical
    integers and apply the same IEEE ops, so the rounded z hashes
    equal. Banded prefix sums as in the KS op; everything else is a
    1-row reduce."""
    v = _two_sample_value_counts(spark, sf_dir)
    cumb = (F.col("cum1") + F.col("cum2")) - F.col("t")
    s = v.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum("t").alias("n"),
        F.sum(F.col("c1") * (2 * cumb + F.col("t") + 1)).alias("r1x2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("ties"),
    )
    n1, n2, n = F.col("n1"), F.col("n2"), F.col("n")
    u1x2 = F.col("r1x2") - n1 * (n1 + 1)
    sig2 = (n1 * n2 * ((n + 1) * n * (n - 1) - F.col("ties"))).cast("double") / (
        12 * n * (n - 1)
    ).cast("double")
    z = F.when(
        sig2 > 0,
        F.round((u1x2 - n1 * n2).cast("double") / (2 * F.sqrt(sig2)), 6),
    )  # all-values-tied degenerate case: sigma = 0 -> z undefined (NULL)
    return s.select(
        n1.cast("long").alias("n_urgent"),
        n2.cast("long").alias("n_low"),
        u1x2.cast("long").alias("u1_x2"),
        z.alias("z"),
    )


# One-way ANOVA on integer cents, quantized once: each group's S_g^2/n_g
# term is half-up rounded to micro-cents^2 (exact integer division), the
# terms sum exactly, and F is one double expression at the end. The
# quantization is identical on both sides, so the compare is bit-exact.
def _anova_f_sql(src_cte: str, group_col: str, val_col: str) -> str:
    p = _P
    return f"""
    WITH src AS ({src_cte}),
    g AS (
        SELECT {group_col} AS grp,
               CAST(count(*) AS HUGEINT) AS ng,
               CAST(sum({val_col}) AS HUGEINT) AS sg,
               CAST(sum({val_col}*{val_col}) AS HUGEINT) AS qg
        FROM src GROUP BY 1
    ), s AS (
        SELECT count(*) AS k, sum(ng) AS n, sum(sg) AS sx, sum(qg) AS q,
               sum((2*{p}*sg*sg + ng) // (2*ng)) AS a_micro
        FROM g
    )
    SELECT CAST(k AS BIGINT) AS n_groups,
           CAST(n AS BIGINT) AS n_rows,
           round(CAST(a_micro - ((2*{p}*sx*sx + n) // (2*n)) AS DOUBLE) * (n - k)
                 / (CASE WHEN CAST({p}*q - a_micro AS DOUBLE) * (k - 1) > 0
                         THEN CAST({p}*q - a_micro AS DOUBLE) * (k - 1) END), 6)
               AS f_stat
    FROM s
    """


def _anova_f_frame(rows: DataFrame, grp, val) -> DataFrame:
    """Shared exact one-way ANOVA kernel: rows -> 1-row (n_groups,
    n_rows, f_stat). ``val`` must be an integer-valued decimal column."""
    g = rows.groupBy(grp.alias("grp")).agg(
        F.count(F.lit(1)).cast(_D38).alias("ng"),
        F.sum(val).alias("sg"),
        F.sum(val * val).alias("qg"),
    )
    term = exact_floor_div(2 * _P * F.col("sg") * F.col("sg") + F.col("ng"), 2 * F.col("ng"))
    s = g.agg(
        F.count(F.lit(1)).cast(_D38).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sg").alias("sx"),
        F.sum("qg").alias("q"),
        F.sum(term).alias("a_micro"),
    )
    k, n = F.col("k"), F.col("n")
    b_micro = exact_floor_div(2 * _P * F.col("sx") * F.col("sx") + n, 2 * n)
    den = (_P * F.col("q") - F.col("a_micro")).cast("double") * (k - 1).cast("double")
    f_stat = F.when(  # zero within-group variance -> F undefined (NULL)
        den > 0,
        F.round((F.col("a_micro") - b_micro).cast("double") * (n - k).cast("double") / den, 6),
    )
    return s.select(
        k.cast("long").alias("n_groups"),
        n.cast("long").alias("n_rows"),
        f_stat.alias("f_stat"),
    )


@op(
    "anova_f_priority_totals",
    oracle=_anova_f_sql(
        f"SELECT o_orderpriority AS grp, {_CENTS_SQL} AS v FROM orders",
        "grp",
        "v",
    ),
    tags=("stats", "test", "agg"),
)
def anova_f_priority_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across the five order priorities on order totals
    — "does the group mean differ anywhere?" before drilling into pairs.
    Between/within sums of squares come from per-group integer
    accumulators (n_g, S_g, Q_g); the only non-integer step quantizes
    S_g^2/n_g to micro-units exactly (half-up integer division), summed
    over a 5-row aggregate. Exact through sf0.1-scale magnitudes; the
    final F is one portable double expression."""
    o = _t(spark, sf_dir, "orders")
    rows = o.select(F.col("o_orderpriority").alias("grp"), _cents().alias("v"))
    return _anova_f_frame(rows, F.col("grp"), F.col("v"))


_BF_SQL = f"""
    WITH base AS (
        SELECT o_orderpriority AS grp, {_CENTS_SQL} AS cents FROM orders
    ), med AS (
        SELECT grp, CAST(round(quantile_cont(cents, 0.5) * 2) AS HUGEINT) AS m2
        FROM base GROUP BY 1
    ), dev AS (
        SELECT base.grp AS grp, abs(2*base.cents - med.m2) AS d
        FROM base JOIN med USING (grp)
    ), g AS (
        SELECT grp,
               CAST(count(*) AS HUGEINT) AS ng,
               CAST(sum(d) AS HUGEINT) AS sg,
               CAST(sum(d*d) AS HUGEINT) AS qg
        FROM dev GROUP BY 1
    ), s AS (
        SELECT count(*) AS k, sum(ng) AS n, sum(sg) AS sx, sum(qg) AS q,
               sum((2*{_P}*sg*sg + ng) // (2*ng)) AS a_micro
        FROM g
    )
    SELECT CAST(k AS BIGINT) AS n_groups,
           CAST(n AS BIGINT) AS n_rows,
           round(CAST(a_micro - ((2*{_P}*sx*sx + n) // (2*n)) AS DOUBLE) * (n - k)
                 / (CASE WHEN CAST({_P}*q - a_micro AS DOUBLE) * (k - 1) > 0
                         THEN CAST({_P}*q - a_micro AS DOUBLE) * (k - 1) END), 6)
               AS f_stat
    FROM s
"""


@op("brown_forsythe_priority", oracle=_BF_SQL, tags=("stats", "test", "agg"))
def brown_forsythe_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe (median-centered Levene) homogeneity-of-variance
    test across order priorities: one-way ANOVA on |x - median_g|.
    The deviation stays integer by doubling: d = |2x - 2*median_g|,
    where 2*median = lo + hi is exact in double (cents < 2^53) on both
    engines (percentile_cont convention: index p*(n-1), linear
    interpolation — Spark `percentile` and DuckDB `quantile_cont`
    agree). Per-group medians are a bounded 5-row broadcast; the rest
    reuses the exact ANOVA kernel."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(F.col("o_orderpriority").alias("grp"), _cents().alias("cents"))
    med = base.groupBy("grp").agg(
        F.round(F.expr("percentile(cents, 0.5)") * 2).cast(_D38).alias("m2")
    )
    dev = base.join(F.broadcast(med), "grp").select(
        "grp", F.abs(2 * F.col("cents") - F.col("m2")).alias("d")
    )
    return _anova_f_frame(dev, F.col("grp"), F.col("d"))


_ACF_SQL = f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum({_CENTS_SQL}) AS HUGEINT) AS y
        FROM orders GROUP BY 1
    ), lags AS (
        SELECT CAST(range AS INTEGER) AS lag FROM range(1, 8)
    ), joined AS (
        SELECT l.lag AS lag, a.y AS x, b.y AS y
        FROM daily a CROSS JOIN lags l
        JOIN daily b ON b.day = a.day + l.lag
    ), acc AS (
        SELECT lag, CAST(count(*) AS HUGEINT) AS n,
               sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
               sum(x*x) AS sxx, sum(y*y) AS syy
        FROM joined GROUP BY 1
    )
    SELECT lag, CAST(n AS BIGINT) AS n_days,
           round((CAST(n*sxy - sx*sy AS DOUBLE))
                 / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                    * sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6) AS acf
    FROM acc
"""


@op("acf_daily_revenue", oracle=_ACF_SQL, tags=("stats", "timeseries", "agg"))
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily order-revenue series at lags 1..7 —
    the seasonality probe behind forecast-model selection (pairs with
    dow_seasonality / forecast_backtest_naive). Sample Pearson r between
    the series and its lag over matched days, the pandas
    `Series.autocorr` convention. The daily series is calendar-bounded,
    the 7 lag pairings are day-keyed joins of that bounded series, and
    each lag reduces to the six exact integer Pearson accumulators
    (house pattern, extras.py _PEARSON_EXPR)."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(_cents()).alias("y")
    )
    lags = F.explode(F.array(*[F.lit(i) for i in range(1, 8)])).alias("lag")
    left = daily.select(F.col("day"), F.col("y").alias("x")).select("*", lags)
    right = daily.select(F.col("day").alias("rday"), F.col("y").alias("yy"))
    joined = left.join(
        right, F.col("rday") == F.date_add(F.col("day"), F.col("lag")), "inner"
    )
    acc = joined.groupBy("lag").agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("yy").alias("sy"),
        F.sum(F.col("x") * F.col("yy")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("yy") * F.col("yy")).alias("syy"),
    )
    n = F.col("n")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return acc.select(
        F.col("lag").cast("int").alias("lag"),
        n.cast("long").alias("n_days"),
        F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6).alias("acf"),
    )


_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

_OHE_SQL = (
    "SELECT n.n_name, "
    + ", ".join(
        f"CAST(sum(CASE WHEN c.c_mktsegment = '{s}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS seg_{s.lower()}"
        for s in _SEGMENTS
    )
    + ", CAST(count(*) AS BIGINT) AS n_customers"
    " FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey"
    " GROUP BY n.n_name"
)


@op("one_hot_segment_matrix", oracle=_OHE_SQL, tags=("ml", "feature-prep", "agg"))
def one_hot_segment_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-hot encoding of a categorical (c_mktsegment -> five 0/1
    indicator columns) aggregated per nation — the encode step of a
    feature pipeline, kept entirely JVM-side with static CASE columns
    (no pivot: the category set is part of the feature contract, and a
    data-driven pivot would make the output schema depend on the data —
    the classic training/serving skew bug). n_customers rides along as
    the row-sum invariant."""
    c = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    inds = [
        F.sum((F.col("c_mktsegment") == s).cast("int"))
        .cast("long")
        .alias(f"seg_{s.lower()}")
        for s in _SEGMENTS
    ]
    return (
        c.join(F.broadcast(nat), c.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(*inds, F.count(F.lit(1)).cast("long").alias("n_customers"))
    )


_TE_M = 10  # smoothing pseudo-count

_TE_SQL = f"""
    WITH li AS (
        SELECT p.p_brand AS brand,
               CAST(CAST(l.l_extendedprice AS DECIMAL(28,6)) * 100 AS HUGEINT)
                   AS cents
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), g AS (
        SELECT brand, CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(cents) AS HUGEINT) AS s
        FROM li GROUP BY 1
    ), t AS (
        SELECT sum(n) AS tn, sum(s) AS ts FROM g
    )
    SELECT g.brand,
           CAST(g.n AS BIGINT) AS n_lineitems,
           CAST((2*{_P}*(t.tn*g.s + {_TE_M}*t.ts) + t.tn*(g.n + {_TE_M}))
                // (2*t.tn*(g.n + {_TE_M})) AS DOUBLE) / {_P} AS encoded_cents
    FROM g CROSS JOIN t
"""


@op("target_encode_brand", oracle=_TE_SQL, tags=("ml", "feature-prep", "agg"))
def target_encode_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target (mean) encoding of p_brand against line revenue:
    enc = (sum_g + m*prior) / (n_g + m) with prior = global mean and
    m = 10 pseudo-observations — the standard high-cardinality
    categorical encoder. Computed as ONE exact rational
    (N*S_g + m*S) / (N*(n_g + m)) in integer cents, half-up rounded once
    at micro precision; the 1-row global accumulator is broadcast. The
    dimension join broadcasts part onto the fact scan."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cents = (F.col("l_extendedprice").cast("decimal(28,6)") * 100).cast(_D38)
    g = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(F.col("p_brand").alias("brand"), cents.alias("cents"))
        .groupBy("brand")
        .agg(
            F.count(F.lit(1)).cast(_D38).alias("n"),
            F.sum("cents").alias("s"),
        )
    )
    t = g.agg(F.sum("n").alias("tn"), F.sum("s").alias("ts"))
    num = F.col("tn") * F.col("s") + _TE_M * F.col("ts")
    den = F.col("tn") * (F.col("n") + _TE_M)
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "brand",
            F.col("n").cast("long").alias("n_lineitems"),
            ratio_round(num, den).alias("encoded_cents"),
        )
    )


_FH_BUCKETS = 64

_FH_SQL = f"""
    WITH tok AS (
        SELECT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ) WHERE tok <> ''
    ), b AS (
        SELECT tok,
               ('0x' || substr(md5('fh:' || tok), 1, 15))::BIGINT % {_FH_BUCKETS}
                   AS bucket
        FROM tok
    )
    SELECT CAST(bucket AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct_tokens
    FROM b GROUP BY bucket
"""


@op("feature_hash_buckets", oracle=_FH_SQL, tags=("ml", "feature-prep", "text"))
def feature_hash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: tokens -> a fixed 64-dim feature space via the
    engine-portable md5 hash (dedup.py portable_hash60), with per-bucket
    occupancy (total occurrences + distinct tokens = the collision
    profile a feature-hashing dimensionality choice is judged by).
    Vocabulary-unbounded input, bounded 64-row output; the groupBy
    map-side combines."""
    from my_polars_ai_spark.operators.dedup import portable_hash60

    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    b = tok.select(
        "tok",
        F.pmod(
            portable_hash60(F.concat(F.lit("fh:"), F.col("tok"))), F.lit(_FH_BUCKETS)
        ).cast("int").alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct_tokens"),
    )


_KFOLD_K = 5

_KFOLD_SQL = f"""
    WITH f AS (
        SELECT lang,
               CAST(('0x' || substr(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                    % {_KFOLD_K} AS INTEGER) AS fold
        FROM documents
    ), c AS (
        SELECT lang, fold, CAST(count(*) AS HUGEINT) AS n_docs FROM f GROUP BY 1, 2
    ), t AS (
        SELECT lang, sum(n_docs) AS lang_total FROM c GROUP BY 1
    )
    SELECT c.lang, c.fold, CAST(c.n_docs AS BIGINT) AS n_docs,
           CAST((2*{_P}*c.n_docs + t.lang_total) // (2*t.lang_total) AS DOUBLE)
               / {_P} AS fold_share
    FROM c JOIN t USING (lang)
"""


@op("kfold_stratified_assign", oracle=_KFOLD_SQL, tags=("ml", "feature-prep"))
def kfold_stratified_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment, reported as the
    per-language fold balance sheet (count + share within language) that
    validates the stratification. fold = portable_hash(doc_id) % 5:
    hash-based like train_val_test_split (fuzzy.py), so the same doc
    lands in the same fold on every run and engine — rand()-free
    reproducibility, mergeable across shards."""
    from my_polars_ai_spark.operators.dedup import portable_hash60

    d = _t(spark, sf_dir, "documents")
    fold = F.pmod(
        portable_hash60(F.concat(F.lit("fold:"), F.col("doc_id").cast("string"))),
        F.lit(_KFOLD_K),
    ).cast("int")
    c = d.select("lang", fold.alias("fold")).groupBy("lang", "fold").agg(
        F.count(F.lit(1)).cast(_D38).alias("n_docs")
    )
    t = c.groupBy("lang").agg(F.sum("n_docs").alias("lang_total"))
    return c.join(F.broadcast(t), "lang").select(
        "lang",
        "fold",
        F.col("n_docs").cast("long").alias("n_docs"),
        ratio_round(F.col("n_docs"), F.col("lang_total")).alias("fold_share"),
    )


_LEAK_SQL = """
    WITH split AS (
        SELECT md5(text) AS fp,
               CASE WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                         % 10 < 8
                    THEN 'train' ELSE 'test' END AS part
        FROM documents
    ), tr AS (
        SELECT fp, CAST(count(*) AS HUGEINT) AS nt FROM split
        WHERE part = 'train' GROUP BY fp
    ), te AS (
        SELECT fp, CAST(count(*) AS HUGEINT) AS ns FROM split
        WHERE part = 'test' GROUP BY fp
    ), leak AS (
        SELECT coalesce(sum(tr.nt * te.ns), 0) AS pairs,
               count(*) AS fps
        FROM tr JOIN te USING (fp)
    )
    SELECT CAST((SELECT count(*) FROM split WHERE part = 'train') AS BIGINT)
               AS n_train,
           CAST((SELECT count(*) FROM split WHERE part = 'test') AS BIGINT)
               AS n_test,
           CAST(leak.pairs AS BIGINT) AS leaked_pairs,
           CAST(leak.fps AS BIGINT) AS leaked_fingerprints
    FROM leak
"""


@op("split_leakage_audit", oracle=_LEAK_SQL, tags=("ml", "feature-prep", "dedup"))
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: after the hash-based 80/20 split,
    does any exact text occur on BOTH sides? (The evaluation-integrity
    check every training pipeline must run — the in-repo twin of
    benchmark_contamination, pointed at our own split.) Both sides
    pre-aggregate to (fingerprint, count) before the join, so the
    fingerprint equi-join moves one row per distinct text, not one per
    document; totals are 1-row broadcast reduces."""
    from my_polars_ai_spark.operators.dedup import portable_hash60

    d = _t(spark, sf_dir, "documents")
    part = F.when(
        F.pmod(
            portable_hash60(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
            F.lit(10),
        )
        < 8,
        F.lit("train"),
    ).otherwise(F.lit("test"))
    split = d.select(F.md5("text").alias("fp"), part.alias("part"))
    tr = split.filter(F.col("part") == "train").groupBy("fp").agg(
        F.count(F.lit(1)).cast(_D38).alias("nt")
    )
    te = split.filter(F.col("part") == "test").groupBy("fp").agg(
        F.count(F.lit(1)).cast(_D38).alias("ns")
    )
    leak = tr.join(te, "fp").agg(
        F.coalesce(F.sum(F.col("nt") * F.col("ns")), F.lit(0).cast(_D38)).alias(
            "pairs"
        ),
        F.count(F.lit(1)).cast(_D38).alias("fps"),
    )
    totals = split.agg(
        F.sum((F.col("part") == "train").cast("int")).cast("long").alias("n_train"),
        F.sum((F.col("part") == "test").cast("int")).cast("long").alias("n_test"),
    )
    return totals.crossJoin(F.broadcast(leak)).select(
        "n_train",
        "n_test",
        F.col("pairs").cast("long").alias("leaked_pairs"),
        F.col("fps").cast("long").alias("leaked_fingerprints"),
    )


_WELCH_SQL = f"""
    WITH g AS (
        SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END AS grp,
               {_CENTS_SQL} AS v
        FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), a AS (
        SELECT
            sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::HUGEINT AS n1,
            sum(CASE WHEN grp = 2 THEN 1 ELSE 0 END)::HUGEINT AS n2,
            sum(CASE WHEN grp = 1 THEN v ELSE 0 END)::HUGEINT AS s1,
            sum(CASE WHEN grp = 2 THEN v ELSE 0 END)::HUGEINT AS s2,
            sum(CASE WHEN grp = 1 THEN v*v ELSE 0 END)::HUGEINT AS q1,
            sum(CASE WHEN grp = 2 THEN v*v ELSE 0 END)::HUGEINT AS q2
        FROM g
    ), v AS (
        SELECT n1, n2,
               CAST(s1*n2 - s2*n1 AS DOUBLE) / CAST(n1*n2 AS DOUBLE) AS md,
               CAST(n1*q1 - s1*s1 AS DOUBLE) / CAST(n1*n1*(n1-1) AS DOUBLE) AS v1,
               CAST(n2*q2 - s2*s2 AS DOUBLE) / CAST(n2*n2*(n2-1) AS DOUBLE) AS v2
        FROM a
    )
    SELECT CAST(n1 AS BIGINT) AS n_urgent,
           CAST(n2 AS BIGINT) AS n_low,
           round(md / nullif(sqrt(v1 + v2), 0), 6) AS t_stat,
           round((v1 + v2) * (v1 + v2)
                 / nullif(v1*v1 / CAST(n1 - 1 AS DOUBLE)
                          + v2*v2 / CAST(n2 - 1 AS DOUBLE), 0), 6) AS df
    FROM v
"""


@op("welch_t_priority_totals", oracle=_WELCH_SQL, tags=("stats", "test", "agg"))
def welch_t_priority_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t for 1-URGENT vs 5-LOW order totals,
    with the Welch–Satterthwaite degrees of freedom — the robust default
    two-sample mean test (pairs with mannwhitney_priority_totals, its
    rank-based twin). Everything up to the final expressions is a SINGLE
    conditional-aggregation pass over the filtered fact scan (six exact
    integer accumulators, no join at all); t and df are IEEE-portable
    double expressions mirrored operation-for-operation in the oracle."""
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    is1 = F.col("o_orderpriority") == "1-URGENT"
    v = _cents()
    zero = F.lit(0).cast(_D38)
    a = o.select(is1.alias("g1"), v.alias("v")).agg(
        F.sum(F.when(F.col("g1"), 1).otherwise(0)).cast(_D38).alias("n1"),
        F.sum(F.when(~F.col("g1"), 1).otherwise(0)).cast(_D38).alias("n2"),
        F.sum(F.when(F.col("g1"), F.col("v")).otherwise(zero)).alias("s1"),
        F.sum(F.when(~F.col("g1"), F.col("v")).otherwise(zero)).alias("s2"),
        F.sum(F.when(F.col("g1"), F.col("v") * F.col("v")).otherwise(zero)).alias("q1"),
        F.sum(F.when(~F.col("g1"), F.col("v") * F.col("v")).otherwise(zero)).alias("q2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    md = (F.col("s1") * n2 - F.col("s2") * n1).cast("double") / (n1 * n2).cast("double")
    v1 = (n1 * F.col("q1") - F.col("s1") * F.col("s1")).cast("double") / (
        n1 * n1 * (n1 - 1)
    ).cast("double")
    v2 = (n2 * F.col("q2") - F.col("s2") * F.col("s2")).cast("double") / (
        n2 * n2 * (n2 - 1)
    ).cast("double")
    se = F.sqrt(v1 + v2)
    t_stat = F.when(se > 0, F.round(md / se, 6))
    df_den = v1 * v1 / (n1 - 1).cast("double") + v2 * v2 / (n2 - 1).cast("double")
    df = F.when(df_den > 0, F.round((v1 + v2) * (v1 + v2) / df_den, 6))
    return a.select(
        n1.cast("long").alias("n_urgent"),
        n2.cast("long").alias("n_low"),
        t_stat.alias("t_stat"),
        df.alias("df"),
    )


_ROBUST_SQL = f"""
    WITH base AS (
        SELECT c_custkey, c_mktsegment AS segment,
               CAST(CAST(c_acctbal AS DECIMAL(28,6)) * 100 AS HUGEINT) AS cents
        FROM customer
    ), q AS (
        SELECT segment,
               CAST(round(quantile_cont(cents, 0.5) * 4) AS HUGEINT) AS med4,
               CAST(round(quantile_cont(cents, 0.75) * 4)
                    - round(quantile_cont(cents, 0.25) * 4) AS HUGEINT) AS iqr4
        FROM base GROUP BY 1
    )
    SELECT b.c_custkey, b.segment,
           CASE WHEN q.iqr4 > 0 THEN
               {oracle_signed_ratio_round('4*b.cents - q.med4', 'q.iqr4')}
           END AS scaled
    FROM base b JOIN q USING (segment)
"""


@op("robust_scale_acctbal", oracle=_ROBUST_SQL, tags=("ml", "feature-prep"))
def robust_scale_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/IQR) feature scaling of account balance within
    each market segment — the outlier-resistant alternative to z-score
    or min-max (feature_minmax_scale) normalization. Quantile indices at
    p in {{.25,.5,.75}} interpolate at quarter weights, so 4x the
    quantile is an exact integer on both engines; the scaled value is
    the one exact signed rational (4x - med4)/iqr4, NULL when the IQR
    degenerates to zero. Per-segment quantiles are a 5-row broadcast
    back onto the scan."""
    c = _t(spark, sf_dir, "customer")
    cents = (F.col("c_acctbal").cast("decimal(28,6)") * 100).cast(_D38)
    base = c.select(
        "c_custkey", F.col("c_mktsegment").alias("segment"), cents.alias("cents")
    )
    q = base.groupBy("segment").agg(
        F.round(F.expr("percentile(cents, 0.5)") * 4).cast(_D38).alias("med4"),
        (
            F.round(F.expr("percentile(cents, 0.75)") * 4)
            - F.round(F.expr("percentile(cents, 0.25)") * 4)
        ).cast(_D38).alias("iqr4"),
    )
    scaled = F.when(
        F.col("iqr4") > 0,
        signed_ratio_round(4 * F.col("cents") - F.col("med4"), F.col("iqr4")),
    )
    return base.join(F.broadcast(q), "segment").select(
        "c_custkey", "segment", scaled.alias("scaled")
    )


# Pairwise + trend tests share the bounded per-priority success table:
# success = order reached final status 'F'.
_PRIO_CONV_SQL = """
        SELECT o_orderpriority AS grp,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS HUGEINT) AS x
        FROM orders GROUP BY 1
"""

# two-sided alpha=0.05 Bonferroni-corrected over the 10 pairs:
# z_crit = Phi^-1(1 - 0.0025) ~= 2.807
_PAIRWISE_Z_CRIT = 2.807

_PAIRWISE_SQL = f"""
    WITH g AS ({_PRIO_CONV_SQL}),
    p AS (
        SELECT a.grp AS grp_a, b.grp AS grp_b,
               a.n AS na, a.x AS xa, b.n AS nb, b.x AS xb
        FROM g a JOIN g b ON a.grp < b.grp
    )
    SELECT grp_a, grp_b,
           CAST(na AS BIGINT) AS n_a, CAST(xa AS BIGINT) AS x_a,
           CAST(nb AS BIGINT) AS n_b, CAST(xb AS BIGINT) AS x_b,
           {oracle_signed_ratio_round('xa*nb - xb*na', 'na*nb')} AS diff,
           round(CASE WHEN (xa + xb) != 0 AND (xa + xb) != (na + nb) THEN
               (CAST(xa AS DOUBLE)/na - CAST(xb AS DOUBLE)/nb)
               / sqrt((CAST(xa + xb AS DOUBLE)/(na + nb))
                      * (1 - CAST(xa + xb AS DOUBLE)/(na + nb))
                      * (1.0/na + 1.0/nb))
           END, 6) AS z,
           CAST(abs(round(CASE WHEN (xa + xb) != 0 AND (xa + xb) != (na + nb) THEN
               (CAST(xa AS DOUBLE)/na - CAST(xb AS DOUBLE)/nb)
               / sqrt((CAST(xa + xb AS DOUBLE)/(na + nb))
                      * (1 - CAST(xa + xb AS DOUBLE)/(na + nb))
                      * (1.0/na + 1.0/nb))
           END, 6)) > {_PAIRWISE_Z_CRIT} AS INT) AS significant
    FROM p
"""


@op("pairwise_proportion_tests", oracle=_PAIRWISE_SQL, tags=("stats", "test", "agg"))
def pairwise_proportion_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs two-proportion z-tests across the five order
    priorities on completion rate ('F' status), with a Bonferroni
    significance flag at the 10-comparison-corrected critical value —
    the post-hoc matrix that follows an omnibus test
    (anova_f_priority_totals's categorical sibling). One bounded 5-row
    conditional aggregation, a 10-row self-join, portable double z per
    pair; the flag compares the ROUNDED z to a non-boundary constant so
    it can't flip between engines."""
    o = _t(spark, sf_dir, "orders")
    g = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum((F.col("o_orderstatus") == "F").cast("int")).cast(_D38).alias("x"),
    )
    a = g.select(F.col("grp").alias("grp_a"), F.col("n").alias("na"), F.col("x").alias("xa"))
    b = g.select(F.col("grp").alias("grp_b"), F.col("n").alias("nb"), F.col("x").alias("xb"))
    p = a.join(b, F.col("grp_a") < F.col("grp_b"))
    na, xa, nb, xb = F.col("na"), F.col("xa"), F.col("nb"), F.col("xb")
    pp = (xa + xb).cast("double") / (na + nb).cast("double")
    z_raw = F.when(
        ((xa + xb) != 0) & ((xa + xb) != (na + nb)),
        (xa.cast("double") / na.cast("double") - xb.cast("double") / nb.cast("double"))
        / F.sqrt(pp * (1 - pp) * (1.0 / na.cast("double") + 1.0 / nb.cast("double"))),
    )
    z = F.round(z_raw, 6)
    return p.select(
        "grp_a",
        "grp_b",
        na.cast("long").alias("n_a"),
        xa.cast("long").alias("x_a"),
        nb.cast("long").alias("n_b"),
        xb.cast("long").alias("x_b"),
        signed_ratio_round(xa * nb - xb * na, na * nb).alias("diff"),
        z.alias("z"),
        (F.abs(z) > _PAIRWISE_Z_CRIT).cast("int").alias("significant"),
    )


_CA_SQL = f"""
    WITH g AS ({_PRIO_CONV_SQL}),
    s AS (
        SELECT sum(n) AS nn, sum(x) AS xx,
               sum(CAST(substr(grp, 1, 1) AS HUGEINT) * x) AS wx,
               sum(CAST(substr(grp, 1, 1) AS HUGEINT) * n) AS wn,
               sum(CAST(substr(grp, 1, 1) AS HUGEINT)
                   * CAST(substr(grp, 1, 1) AS HUGEINT) * n) AS wwn
        FROM g
    )
    SELECT CAST(nn AS BIGINT) AS n_rows,
           CAST(xx AS BIGINT) AS n_success,
           round(CAST(wx*nn - wn*xx AS DOUBLE)
                 / nullif(sqrt(CAST(xx*(nn - xx) AS DOUBLE)
                               * CAST(nn*wwn - wn*wn AS DOUBLE)
                               / CAST(nn AS DOUBLE)), 0), 6) AS z_trend
    FROM s
"""


@op("cochran_armitage_trend", oracle=_CA_SQL, tags=("stats", "test", "agg"))
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage test for TREND in completion rate across the
    ORDERED priorities (scores 1..5 from the priority prefix digit) —
    the dose-response question a pairwise matrix can't answer. T =
    Σw_i·x_i·N − Σw_i·n_i·X and its variance are pure integer
    accumulators over the bounded 5-row table; z is one portable double
    expression, NULL when every order (or none) completed."""
    o = _t(spark, sf_dir, "orders")
    w_score = F.substring("o_orderpriority", 1, 1).cast("int").cast(_D38)
    g = o.select(
        w_score.alias("w"),
        F.lit(1).cast(_D38).alias("one"),
        (F.col("o_orderstatus") == "F").cast("int").cast(_D38).alias("succ"),
    )
    s = g.agg(
        F.sum("one").alias("nn"),
        F.sum("succ").alias("xx"),
        F.sum(F.col("w") * F.col("succ")).alias("wx"),
        F.sum("w").alias("wn"),
        F.sum(F.col("w") * F.col("w")).alias("wwn"),
    )
    nn, xx = F.col("nn"), F.col("xx")
    num = (F.col("wx") * nn - F.col("wn") * xx).cast("double")
    var = (
        (xx * (nn - xx)).cast("double")
        * (nn * F.col("wwn") - F.col("wn") * F.col("wn")).cast("double")
        / nn.cast("double")
    )
    se = F.sqrt(var)
    z = F.when(se > 0, F.round(num / se, 6))
    return s.select(
        nn.cast("long").alias("n_rows"),
        xx.cast("long").alias("n_success"),
        z.alias("z_trend"),
    )


_KENDALL_SQL = f"""
    WITH m AS (
        SELECT n.n_name,
               CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(28,6)) * 100 AS HUGEINT))
                    AS HUGEINT) AS rev,
               CAST(sum(CAST(CAST(c.c_acctbal AS DECIMAL(28,6)) * 100 AS HUGEINT))
                    AS HUGEINT) AS bal,
               CAST(count(*) AS HUGEINT) AS n
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1
    ), pairs AS (
        SELECT sign(a.rev - b.rev) AS sx,
               sign(a.bal*b.n - b.bal*a.n) AS sy
        FROM m a JOIN m b ON a.n_name < b.n_name
    ), s AS (
        SELECT CAST(count(*) AS HUGEINT) AS p,
               CAST(sum(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS tx,
               CAST(sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS ty,
               CAST(sum(sx * sy) AS HUGEINT) AS cd
        FROM pairs
    )
    SELECT CAST(p AS BIGINT) AS n_pairs,
           CAST(cd AS BIGINT) AS concordant_minus_discordant,
           round(CAST(cd AS DOUBLE)
                 / nullif(sqrt(CAST(p - tx AS DOUBLE) * CAST(p - ty AS DOUBLE)), 0),
                 6) AS tau_b
    FROM s
"""


@op("kendall_tau_nation_metrics", oracle=_KENDALL_SQL, tags=("stats", "test", "agg"))
def kendall_tau_nation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b rank correlation between two per-nation metrics
    (total order revenue vs mean customer balance) — the
    outlier-immune alternative to Pearson (corr_matrix) and a different
    computation shape than Spearman (spearman_per_nation ranks within
    groups; tau compares PAIRS). The mean comparison never divides:
    bal_a/n_a vs bal_b/n_b is cross-multiplied so concordance is exact
    integer sign arithmetic over the bounded 25x24/2 pair table; tau-b's
    tie-corrected denominator is one portable sqrt."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    rev_c = (F.col("o_totalprice").cast("decimal(28,6)") * 100).cast(_D38)
    bal_c = (F.col("c_acctbal").cast("decimal(28,6)") * 100).cast(_D38)
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nat), c.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(rev_c).alias("rev"),
            F.sum(bal_c).alias("bal"),
            F.count(F.lit(1)).cast(_D38).alias("n"),
        )
    )
    a = m.select(
        F.col("n_name").alias("na_name"),
        F.col("rev").alias("rev_a"),
        F.col("bal").alias("bal_a"),
        F.col("n").alias("n_a"),
    )
    b = m.select(
        F.col("n_name").alias("nb_name"),
        F.col("rev").alias("rev_b"),
        F.col("bal").alias("bal_b"),
        F.col("n").alias("n_b"),
    )
    pairs = a.join(b, F.col("na_name") < F.col("nb_name")).select(
        F.signum((F.col("rev_a") - F.col("rev_b")).cast("double")).cast("int").alias("sx"),
        F.signum(
            (F.col("bal_a") * F.col("n_b") - F.col("bal_b") * F.col("n_a")).cast("double")
        ).cast("int").alias("sy"),
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast(_D38).alias("p"),
        F.sum((F.col("sx") == 0).cast("int")).cast(_D38).alias("tx"),
        F.sum((F.col("sy") == 0).cast("int")).cast(_D38).alias("ty"),
        F.sum(F.col("sx") * F.col("sy")).cast(_D38).alias("cd"),
    )
    den = F.sqrt(
        (F.col("p") - F.col("tx")).cast("double") * (F.col("p") - F.col("ty")).cast("double")
    )
    tau = F.when(den > 0, F.round(F.col("cd").cast("double") / den, 6))
    return s.select(
        F.col("p").cast("long").alias("n_pairs"),
        F.col("cd").cast("long").alias("concordant_minus_discordant"),
        tau.alias("tau_b"),
    )


# Benjamini-Hochberg step-up critical |z| values for m=10 ranked
# two-sided comparisons at FDR alpha=0.05: crit_i = Phi^-1(1 -
# 0.05*i/10 / 2), precomputed by bisection on erfc (non-boundary 4-dp
# literals; rank-1 equals the Bonferroni 2.807 by construction).
_BH_CRIT = (2.807, 2.5758, 2.4324, 2.3263, 2.2414,
            2.1701, 2.1084, 2.0537, 2.0047, 1.96)
_BH_CRIT_SQL = "[" + ", ".join(str(c) for c in _BH_CRIT) + "]"

_BH_SQL = f"""
    WITH pw AS ({_PAIRWISE_SQL}),
    r AS (
        SELECT grp_a, grp_b, z,
               row_number() OVER (ORDER BY abs(z) DESC NULLS LAST,
                                  grp_a ASC, grp_b ASC) AS rnk
        FROM pw
    ), h AS (
        SELECT *, CASE WHEN z IS NOT NULL
                        AND abs(z) >= {_BH_CRIT_SQL}[rnk]
                       THEN rnk ELSE 0 END AS hit
        FROM r
    ), mx AS (
        SELECT max(hit) AS max_hit FROM h
    )
    SELECT grp_a, grp_b, z, CAST(rnk AS INT) AS rnk,
           CAST(CASE WHEN rnk <= mx.max_hit THEN 1 ELSE 0 END AS INT)
               AS significant_bh
    FROM h CROSS JOIN mx
"""


@op("bh_fdr_pairwise", oracle=_BH_SQL, tags=("stats", "test", "multiplicity"))
def bh_fdr_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR correction over the 10 pairwise
    proportion z-tests — the step-UP procedure that recovers power
    Bonferroni throws away (every |z| past its RANKED threshold, plus
    everything ranked above the last success, is significant at FDR
    0.05). Composes the registered pairwise op directly, so the z
    matrix cannot drift from what users run; thresholds are
    precomputed non-boundary literals (rank 1 IS the Bonferroni
    2.807), the ranking orders by the ROUNDED z with name tie-breaks,
    and the step-up cutoff is one 10-row max broadcast back — the
    whole procedure after the 5-row aggregation is constant-sized."""
    pw = pairwise_proportion_tests(spark, sf_dir)
    w = Window.orderBy(F.abs(F.col("z")).desc_nulls_last(), F.asc("grp_a"), F.asc("grp_b"))
    r = pw.select("grp_a", "grp_b", "z").withColumn("rnk", F.row_number().over(w))
    crit = F.element_at(F.array(*[F.lit(c) for c in _BH_CRIT]), F.col("rnk"))
    h = r.withColumn(
        "hit",
        F.when(F.col("z").isNotNull() & (F.abs("z") >= crit), F.col("rnk")).otherwise(0),
    )
    mx = h.agg(F.max("hit").alias("max_hit"))
    return (
        h.crossJoin(F.broadcast(mx))
        .select(
            "grp_a",
            "grp_b",
            "z",
            F.col("rnk").cast("int").alias("rnk"),
            (F.col("rnk") <= F.col("max_hit")).cast("int").alias("significant_bh"),
        )
    )


# ---------------------------------------------------------------------------
# Sequential testing: SPRT boundary crossing per arm
# ---------------------------------------------------------------------------

# Wald SPRT for reward = (value > 100): H0 p=0.3 vs H1 p=0.5,
# alpha = beta = 0.05. Per-event log-likelihood-ratio increments and
# the decision boundaries ln((1-b)/a) = ln 19, precomputed once to
# integer micro-nats so the cumulative walk is exact integer summation.
_SPRT_SUCC = 510_826     # round(ln(0.5/0.3) * 1e6)
_SPRT_FAIL = -336_472    # round(ln(0.5/0.7) * 1e6)
_SPRT_BOUND = 2_944_439  # round(ln(19) * 1e6)

_SPRT_SQL = f"""
    WITH e AS (
        SELECT event_type, event_id, epoch_us(ts) AS ts_us,
               CASE WHEN value > 100 THEN {_SPRT_SUCC}
                    ELSE {_SPRT_FAIL} END AS llr
        FROM events
    ), w AS (
        SELECT event_type, ts_us, event_id,
               sum(llr) OVER (PARTITION BY event_type
                              ORDER BY ts_us, event_id) AS cum,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ts_us, event_id) AS idx
        FROM e
    ), x AS (
        SELECT event_type, idx, cum,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY idx) AS hit_rank
        FROM w
        WHERE cum >= {_SPRT_BOUND} OR cum <= -{_SPRT_BOUND}
    ), nn AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events FROM e GROUP BY 1
    )
    SELECT nn.event_type, nn.n_events,
           CAST(x.idx AS BIGINT) AS crossing_index,
           CASE WHEN x.cum >= {_SPRT_BOUND} THEN 'accept_h1'
                WHEN x.cum <= -{_SPRT_BOUND} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM nn LEFT JOIN x ON x.event_type = nn.event_type AND x.hit_rank = 1
"""


@op("sprt_boundary_crossing", oracle=_SPRT_SQL, tags=("stats", "sequential", "test"))
def sprt_boundary_crossing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test replayed over each
    event-type arm: walk the cumulative log-likelihood ratio of
    reward = (value > 100) under H1 p=0.5 vs H0 p=0.3 in event-time
    order and report WHERE the walk first exits the ±ln 19 band
    (alpha = beta = 0.05) — the always-valid sequential complement to
    the fixed-horizon ab_test_two_proportion ('how early could we have
    stopped?'). Per-event increments and both boundaries are
    precomputed micro-nat literals, so the walk is an exact integer
    keyed running sum; the first crossing is the rank-1 row of the
    filtered walk (deterministic (ts, event_id) order), and arms that
    never cross report NULL index with decision 'continue'."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.when(F.col("value") > 100, _SPRT_SUCC).otherwise(_SPRT_FAIL).alias("llr"),
    )
    ww = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    w = e.select(
        "event_type",
        F.sum("llr").over(ww.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.row_number().over(ww).alias("idx"),
    )
    hits = w.filter(
        (F.col("cum") >= _SPRT_BOUND) | (F.col("cum") <= -_SPRT_BOUND)
    )
    first = hits.withColumn(
        "hit_rank",
        F.row_number().over(Window.partitionBy("event_type").orderBy("idx")),
    ).filter(F.col("hit_rank") == 1)
    nn = e.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    decision = (
        F.when(F.col("cum") >= _SPRT_BOUND, "accept_h1")
        .when(F.col("cum") <= -_SPRT_BOUND, "accept_h0")
        .otherwise("continue")
    )
    return nn.join(first.select("event_type", "idx", "cum"), "event_type", "left").select(
        "event_type",
        "n_events",
        F.col("idx").cast("long").alias("crossing_index"),
        decision.alias("decision"),
    )


# ---------------------------------------------------------------------------
# Power analysis: minimum detectable effect at current sample size
# ---------------------------------------------------------------------------

_MDE_ZA = 1.96    # two-sided alpha = 0.05
_MDE_ZB = 0.8416  # power = 0.80

_MDE_SQL = f"""
    WITH v AS (
        SELECT event_type,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS HUGEINT)
                   AS conv
        FROM events GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n, CAST(conv AS BIGINT) AS conversions,
           {oracle_ratio_round('conv', 'n')} AS p,
           round(({_MDE_ZA} + {_MDE_ZB})
                 * sqrt(2.0 * (CAST(conv AS DOUBLE) / CAST(n AS DOUBLE))
                        * (1.0 - CAST(conv AS DOUBLE) / CAST(n AS DOUBLE))
                        / CAST(n AS DOUBLE)), 6) AS mde
    FROM v
"""


@op("mde_power_analysis", oracle=_MDE_SQL, tags=("stats", "experiment", "design"))
def mde_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect per arm at the CURRENT sample size —
    the experiment-DESIGN number that belongs before any test in the
    family (ab_test / wilson / cuped / sprt answer 'what happened';
    this answers 'what could this much data even see'): MDE =
    (z_a/2 + z_b) * sqrt(2 p(1-p) / n) at alpha 0.05, power 0.80, with
    the z's as non-boundary literals and the baseline rate exact from
    counts. A detector asked for a 1% lift on an arm whose MDE reads
    4% is underpowered by inspection. One bounded aggregation; the
    sqrt/divide chain is IEEE-identical from identical integers."""
    e = _t(spark, sf_dir, "events")
    v = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum((F.col("value") > 100).cast("int")).cast(_D38).alias("conv"),
    )
    pd_ = F.col("conv").cast("double") / F.col("n").cast("double")
    return v.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("conv").cast("long").alias("conversions"),
        ratio_round(F.col("conv"), F.col("n")).alias("p"),
        F.round(
            (_MDE_ZA + _MDE_ZB)
            * F.sqrt(2.0 * pd_ * (1.0 - pd_) / F.col("n").cast("double")),
            6,
        ).alias("mde"),
    )


# ---------------------------------------------------------------------------
# Optimal transport: 1-D Wasserstein distance between two arms
# ---------------------------------------------------------------------------

_W1_SQL = f"""{_TWO_SAMPLE_CTES}
        FROM g GROUP BY cents
    ), w AS (
        SELECT cents,
               sum(c1) OVER (ORDER BY cents) AS cum1,
               sum(c2) OVER (ORDER BY cents) AS cum2,
               lead(cents) OVER (ORDER BY cents) AS next_cents
        FROM v
    ), n AS (
        SELECT sum(c1) AS n1, sum(c2) AS n2 FROM v
    ), t AS (
        SELECT sum(abs(w.cum1*n.n2 - w.cum2*n.n1) * (w.next_cents - w.cents))
                   AS num,
               max(n.n1) AS n1, max(n.n2) AS n2
        FROM w CROSS JOIN n
        WHERE w.next_cents IS NOT NULL
    )
    SELECT CAST(n1 AS BIGINT) AS n_urgent,
           CAST(n2 AS BIGINT) AS n_low,
           {oracle_ratio_round('num', 'n1 * n2')} AS w1_cents
    FROM t
"""


@op("wasserstein_1d_priority", oracle=_W1_SQL, tags=("stats", "transport", "agg"))
def wasserstein_1d_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein (earth mover's) distance between the URGENT and
    LOW order-total distributions — 'how many cents must each
    probability unit travel', the magnitude-aware complement of the
    KS test (KS reports the worst VERTICAL gap between ECDFs; W1
    integrates the HORIZONTAL area, so a uniform $100 shift that
    barely moves KS shows up at full size here). On a sorted axis
    W1 = sum |F1-F2| * gap, which the shared two-sample value table
    makes exact: integer ECDF deviations (cum1*n2 - cum2*n1) times
    integer cent gaps, normalized once by n1*n2 — banded prefix sums
    for the cumulatives and a bucket-stitched lead for the gap
    (concurrency_duration_profile's trick), so nothing sorts globally
    in one task."""
    v = _two_sample_value_counts(spark, sf_dir).withColumn(
        "band", exact_floor_div(F.col("cents"), F.lit(_BAND_CENTS))
    )
    w_lead = Window.partitionBy("band").orderBy("cents")
    bands = v.groupBy("band").agg(F.min("cents").alias("bmin"))
    w_b = Window.orderBy("band")
    next_bmin = bands.select(
        "band", F.lead("bmin").over(w_b).alias("next_bmin")
    )
    w = v.join(F.broadcast(next_bmin), "band").select(
        "cents",
        "cum1",
        "cum2",
        F.coalesce(F.lead("cents").over(w_lead), F.col("next_bmin")).alias(
            "next_cents"
        ),
    )
    n = v.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    t = (
        w.filter(F.col("next_cents").isNotNull())
        .crossJoin(F.broadcast(n))
        .agg(
            F.sum(
                F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
                * (F.col("next_cents") - F.col("cents"))
            ).alias("num"),
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
        )
    )
    return t.select(
        F.col("n1").cast("long").alias("n_urgent"),
        F.col("n2").cast("long").alias("n_low"),
        ratio_round(F.col("num"), F.col("n1") * F.col("n2")).alias("w1_cents"),
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval
# ---------------------------------------------------------------------------

# Cumulative Poisson(1) CDF, written ONCE as decimal literals shared by
# the Spark expression and the oracle SQL — both engines parse the same
# shortest-repr string to the identical IEEE double, so the inverse-CDF
# draw is bit-portable. Tail capped at 9 (P(X>8) < 1.2e-6).
_POIS1_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
    "0.999916758850712",
    "0.9999897508033253",
    "0.999998874797402",
)
_B_REPLICAS = 100
_CI_LO_RANK = 3  # ceil(0.025 * B)
_CI_HI_RANK = 98  # ceil(0.975 * B)
# 2^60 — exact as a double, so u = (hash + 0.5) / 2^60 is one rounding.
_HASH_DEN = "1152921504606846976.0"

_BOOT_CASES = " ".join(
    f"WHEN u < {t} THEN {k}" for k, t in enumerate(_POIS1_CDF)
)

_BOOT_SQL = f"""
    WITH o AS (
        SELECT o_orderkey, {_CENTS_SQL} AS cents FROM orders
    ), draws AS (
        SELECT r.b, o.cents,
               (CAST(('0x' || substr(md5('pb' || r.b::VARCHAR || ':'
                       || o.o_orderkey::VARCHAR), 1, 15))::BIGINT AS DOUBLE)
                + 0.5) / {_HASH_DEN} AS u
        FROM o CROSS JOIN (SELECT unnest(range({_B_REPLICAS})) AS b) r
    ), wdraws AS (
        SELECT b, cents, CASE {_BOOT_CASES} ELSE 9 END AS w FROM draws
    ), rep AS (
        SELECT b, {oracle_ratio_round("sum(w * cents)", "sum(w)")} AS m
        FROM wdraws GROUP BY b
    ), ranked AS (
        SELECT m, row_number() OVER (ORDER BY m, b) AS rn FROM rep
    ), pt AS (
        SELECT CAST(count(*) AS BIGINT) AS n_orders,
               {oracle_ratio_round("sum(cents)", "count(*)")} AS mean_cents
        FROM o
    )
    SELECT pt.n_orders,
           CAST({_B_REPLICAS} AS BIGINT) AS n_replicas,
           pt.mean_cents,
           (SELECT m FROM ranked WHERE rn = {_CI_LO_RANK}) AS ci_lo_cents,
           (SELECT m FROM ranked WHERE rn = {_CI_HI_RANK}) AS ci_hi_cents
    FROM pt
"""


@op("poisson_bootstrap_ci", oracle=_BOOT_SQL, tags=("stats", "bootstrap", "resampling"))
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap 95% CI for the mean order total — THE
    large-scale resampling method (Chamandy et al., "Estimating
    Uncertainty for Massive Data Streams", Google 2012): classic
    bootstrap needs n draws per replica from a global index (impossible
    to distribute), the Poisson approximation gives each ROW an
    independent Poisson(1) weight per replica, so all B replicas are
    computed in one scan, map-side combinable, shuffling only B rows
    per partition. Weights come from the inverse Poisson CDF over the
    portable md5 uniform (shared literal thresholds, one rounding);
    replica means are exact integer-cents rationals; the CI is exact
    order statistics of the bounded B-row replica table (rank window
    over 100 rows, never data-grain). Deterministic end-to-end — the
    oracle replays the identical draws."""
    from my_polars_ai_spark.operators.dedup import portable_hash60

    o = _t(spark, sf_dir, "orders").select("o_orderkey", _cents().alias("cents"))
    drawn = o.select(
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_B_REPLICAS - 1))).alias("b"),
        F.col("o_orderkey"),
    )
    u = (
        portable_hash60(
            F.concat(
                F.lit("pb"),
                F.col("b").cast("string"),
                F.lit(":"),
                F.col("o_orderkey").cast("string"),
            )
        ).cast("double")
        + 0.5
    ) / float(2**60)
    w = F.lit(9)
    for k in range(len(_POIS1_CDF) - 1, -1, -1):
        w = F.when(u < float(_POIS1_CDF[k]), k).otherwise(w)
    rep = (
        drawn.select("b", "cents", w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum(F.col("w").cast(_D38) * F.col("cents")).alias("num"),
            F.sum("w").cast(_D38).alias("den"),
        )
        .select("b", ratio_round(F.col("num"), F.col("den")).alias("m"))
    )
    # bounded grid: exactly B rows rank through this window
    ranked = rep.withColumn("rn", F.row_number().over(Window.orderBy("m", "b")))
    lo = ranked.filter(F.col("rn") == _CI_LO_RANK).select(
        F.col("m").alias("ci_lo_cents")
    )
    hi = ranked.filter(F.col("rn") == _CI_HI_RANK).select(
        F.col("m").alias("ci_hi_cents")
    )
    pt = o.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        ratio_round(F.sum("cents"), F.count(F.lit(1))).alias("mean_cents"),
    )
    return (
        pt.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n_orders",
            F.lit(_B_REPLICAS).cast("long").alias("n_replicas"),
            "mean_cents",
            "ci_lo_cents",
            "ci_hi_cents",
        )
    )


# ---------------------------------------------------------------------------
# Neyman allocation: the stratified-sampling DESIGN op
# ---------------------------------------------------------------------------

_NEYMAN_TOTAL = 1000  # target total sample size the plan allocates

_NEYMAN_SQL = f"""
    WITH s AS (
        SELECT source,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(CAST(n_chars AS HUGEINT)) AS HUGEINT) AS sm,
               CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS ss
        FROM documents GROUP BY 1
    ), v AS (
        SELECT source, n, sm,
               -- sample variance as one exact rational, rounded once
               {oracle_ratio_round("n * ss - sm * sm", "n * (n - 1)")} AS var_chars
        FROM s
    ), w AS (
        SELECT source, n, sm, var_chars,
               CAST(round(sqrt(var_chars) * 1000000) AS HUGEINT) AS sd_micro
        FROM v
    ), tot AS (
        SELECT sum(n * sd_micro) AS denom, sum(n) AS nn FROM w
    )
    SELECT w.source,
           CAST(w.n AS BIGINT) AS n_rows,
           {oracle_ratio_round("w.sm", "w.n")} AS mean_chars,
           CAST(w.sd_micro AS BIGINT) AS sd_micro,
           CAST({oracle_ratio_round(
               f"{_NEYMAN_TOTAL} * w.n * w.sd_micro", "tot.denom", 0
           )} AS BIGINT) AS neyman_n,
           CAST({oracle_ratio_round(
               f"{_NEYMAN_TOTAL} * w.n", "tot.nn", 0
           )} AS BIGINT) AS proportional_n
    FROM w CROSS JOIN tot
"""


@op("neyman_allocation_plan", oracle=_NEYMAN_SQL, tags=("stats", "sampling", "design"))
def neyman_allocation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman (optimal) allocation for a stratified sample of 1000 docs
    by source: n_h proportional to N_h * S_h, next to the proportional
    allocation it beats — high-variance strata get oversampled, which
    is why an eval-set budget spent proportionally wastes draws on
    homogeneous sources. The DESIGN op in front of stratified_sample /
    kfold_stratified_assign (they execute a split; this says what the
    split SHOULD be). Per-stratum variance comes from the three integer
    accumulators (n, sum, sum-of-squares) as ONE exact rational; sd is
    the IEEE sqrt rounded once to micro-units; both allocations are
    exact half-up rationals over the bounded stratum grid. One
    map-side-combined aggregation over the corpus; everything after is
    5 rows."""
    d = _t(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum(F.col("n_chars").cast(_D38)).alias("sm"),
        F.sum(F.col("n_chars").cast(_D38) * F.col("n_chars")).alias("ss"),
    )
    v = s.select(
        "source",
        "n",
        "sm",
        ratio_round(
            F.col("n") * F.col("ss") - F.col("sm") * F.col("sm"),
            F.col("n") * (F.col("n") - 1),
        ).alias("var_chars"),
    )
    w = v.select(
        "source",
        "n",
        "sm",
        "var_chars",
        F.round(F.sqrt("var_chars") * 1000000).cast(_D38).alias("sd_micro"),
    )
    tot = w.agg(
        F.sum(F.col("n") * F.col("sd_micro")).alias("denom"),
        F.sum("n").alias("nn"),
    )
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("n").cast("long").alias("n_rows"),
        ratio_round(F.col("sm"), F.col("n")).alias("mean_chars"),
        F.col("sd_micro").cast("long").alias("sd_micro"),
        ratio_round(
            F.lit(_NEYMAN_TOTAL) * F.col("n") * F.col("sd_micro"),
            F.col("denom"),
            0,
        ).cast("long").alias("neyman_n"),
        ratio_round(F.lit(_NEYMAN_TOTAL) * F.col("n"), F.col("nn"), 0)
        .cast("long")
        .alias("proportional_n"),
    )
