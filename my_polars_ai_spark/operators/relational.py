"""Core relational operators: scans, projections, filters, aggregations,
joins, sorts, set operations (SURVEY.md §2b).

Reference evidence: the filter/count example (reference
examples/from_csv.py:12-14), scalar-agg example
(examples/from_dataframe.py:13-15), join+argmax example
(examples/with_multiple_dataframes.py:25-27), and the Polars expression
surface reachable from the sandbox (reference polarsai/__init__.py:439-440).

Scale notes (100 TB discipline):
- Dimension joins (nation/region/supplier) are explicitly broadcast — the
  fact side never shuffles for them.
- Fact-fact joins (orders ⨝ lineitem, customer ⨝ orders) shuffle on the
  join key; AQE picks sort-merge vs shuffled-hash and handles skew.
- Aggregations rely on Catalyst's partial (map-side) aggregation; no
  driver-side loops anywhere.
- All filters/projections are plain Column expressions => pushed into the
  parquet scan (verify via plans.explain_str: PushedFilters/ReadSchema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_polars_ai_spark.operators.base import (
    ROUND_MONEY,
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

def _revenue():
    # built lazily: constructing a Column requires an active SparkContext,
    # and this module must be importable before the session exists
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# ---------------------------------------------------------------------------
# Flagship
# ---------------------------------------------------------------------------

@op(
    "flagship_revenue_by_nation",
    oracle=f"""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), {ROUND_MONEY}) AS revenue,
           count(*) AS n_items
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON n_nationkey = c_nationkey
    GROUP BY n_name
    """,
    tags=("join", "agg", "flagship"),
)
def flagship_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation: 3-way join + group-agg; nation is broadcast."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    nation = _t(spark, sf_dir, "nation")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(_revenue()), ROUND_MONEY).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Projection / filter / predicates / conditionals / casts / nulls
# ---------------------------------------------------------------------------

@op(
    "scan_project_derive",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_quantity,
           round(l_extendedprice * (1 + l_tax), {ROUND_RATIO}) AS gross_price,
           round(l_extendedprice * (1 - l_discount), {ROUND_RATIO}) AS net_price
    FROM lineitem
    """,
    tags=("scan", "project"),
)
def scan_project_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned scan + derived arithmetic columns (pure projection).

    Per-row derived doubles are rounded at scale 6 — at or above the exact
    decimal scale of the product — so rounding is the identity and both
    engines agree bit-for-bit (scale-2 rounding would sit exactly on .005
    boundaries where Spark and DuckDB tie-break differently).
    """
    return _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.round(F.col("l_extendedprice") * (1 + F.col("l_tax")), ROUND_RATIO).alias("gross_price"),
        F.round(_revenue(), ROUND_RATIO).alias("net_price"),
    )


@op(
    "filter_compound_predicates",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE (o_orderstatus = 'O' AND o_totalprice > 150000.0)
       OR (o_orderpriority IN ('1-URGENT', '2-HIGH') AND NOT o_orderstatus = 'F')
    """,
    tags=("filter",),
)
def filter_compound_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound boolean predicate (AND/OR/NOT/IN) pushed to the scan.

    Mirrors the reference's filter+count golden query shape
    (reference examples/from_csv.py:12-14).
    """
    o = _t(spark, sf_dir, "orders")
    pred = ((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 150000.0)) | (
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH") & ~(F.col("o_orderstatus") == "F")
    )
    return o.filter(pred).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


@op(
    "filter_between_isnull",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_shipdate IS NOT NULL
      AND l_returnflag != 'A'
    """,
    tags=("filter",),
)
def filter_between_isnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """between / isNull / != predicate family."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(10, 20)
        & F.col("l_shipdate").isNotNull()
        & (F.col("l_returnflag") != "A")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")


@op(
    "conditional_case_when",
    oracle="""
    SELECT CASE WHEN l_quantity < 10 THEN 'small'
                WHEN l_quantity < 25 THEN 'medium'
                ELSE 'large' END AS size_class,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem
    GROUP BY 1
    """,
    tags=("conditional", "agg"),
)
def conditional_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """when/then/otherwise (Polars pl.when surface -> F.when)."""
    li = _t(spark, sf_dir, "lineitem")
    size_class = (
        F.when(F.col("l_quantity") < 10, "small")
        .when(F.col("l_quantity") < 25, "medium")
        .otherwise("large")
        .alias("size_class")
    )
    return li.groupBy(size_class).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"),
    )


@op(
    "cast_rename_drop",
    oracle="""
    SELECT o_orderkey AS order_id,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
           CAST(o_orderdate AS DATE) AS order_date,
           upper(o_orderstatus) AS status
    FROM orders
    """,
    tags=("cast", "project"),
)
def cast_rename_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Casts (double->bigint cents, timestamp->date) + rename + drop."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn("price_cents", F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .withColumn("order_date", F.col("o_orderdate").cast("date"))
        .withColumn("status", F.upper("o_orderstatus"))
        .withColumnRenamed("o_orderkey", "order_id")
        .drop("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
        .select("order_id", "price_cents", "order_date", "status")
    )


@op(
    "null_handling_fill",
    oracle=f"""
    SELECT c.c_custkey,
           round(coalesce(t.total_spend, 0.0), {ROUND_MONEY}) AS total_spend,
           coalesce(t.n_orders, 0) AS n_orders,
           t.total_spend IS NULL AS never_ordered
    FROM customer c
    LEFT JOIN (
        SELECT o_custkey,
               sum(o_totalprice) AS total_spend,
               count(*) AS n_orders
        FROM orders GROUP BY o_custkey
    ) t ON t.o_custkey = c.c_custkey
    """,
    tags=("null", "join", "agg"),
)
def null_handling_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null creation via left join + coalesce/fillna + null predicate.

    Mirrors the reference's imputation/clean-data shortcuts (reference
    helpers/shortcuts.py:42-60) on the driver corpus.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("total_spend"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    joined = c.join(spend, c.c_custkey == spend.o_custkey, "left")
    return joined.select(
        "c_custkey",
        F.round(F.coalesce("total_spend", F.lit(0.0)), ROUND_MONEY).alias("total_spend"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.col("total_spend").isNull().alias("never_ordered"),
    )


@op(
    "distinct_projection",
    oracle="SELECT DISTINCT l_suppkey, l_returnflag, l_linestatus FROM lineitem",
    tags=("dedup", "distinct"),
)
def distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct() on a projection (Polars unique() surface)."""
    return _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_returnflag", "l_linestatus").distinct()


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------

@op(
    "agg_scalar_global",
    oracle=f"""
    SELECT count(*) AS n_rows,
           round(sum(l_quantity), {ROUND_MONEY}) AS sum_qty,
           round(avg(l_extendedprice), {ROUND_RATIO}) AS avg_price,
           min(l_shipdate) AS min_ship,
           max(l_shipdate) AS max_ship
    FROM lineitem
    """,
    tags=("agg",),
)
def agg_scalar_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table scalar aggregation (reference examples/from_dataframe.py:13-15
    'sum of gdp' shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), ROUND_MONEY).alias("sum_qty"),
        F.round(F.avg("l_extendedprice"), ROUND_RATIO).alias("avg_price"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


@op(
    "filtered_count",
    oracle="""
    SELECT count(*) AS n
    FROM orders
    WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
    """,
    tags=("agg", "filter"),
)
def filtered_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter().count() — the reference's '247 loans paid off by men'
    golden query shape (reference examples/from_csv.py:12-14)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter((F.col("o_orderstatus") == "F") & (F.col("o_orderpriority") == "1-URGENT"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@op(
    "tpch_q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), {ROUND_MONEY}) AS sum_qty,
           round(sum(l_extendedprice), {ROUND_MONEY}) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), {ROUND_MONEY}) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), {ROUND_MONEY}) AS sum_charge,
           round(avg(l_quantity), {ROUND_RATIO}) AS avg_qty,
           round(avg(l_extendedprice), {ROUND_RATIO}) AS avg_price,
           round(avg(l_discount), {ROUND_RATIO}) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "benchmark"),
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: multi-agg group-by with derived measures; the canonical
    partial+final hash-aggregation benchmark."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), ROUND_MONEY).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), ROUND_MONEY).alias("sum_base_price"),
            F.round(F.sum(_revenue()), ROUND_MONEY).alias("sum_disc_price"),
            F.round(F.sum(_revenue() * (1 + F.col("l_tax"))), ROUND_MONEY).alias("sum_charge"),
            F.round(F.avg("l_quantity"), ROUND_RATIO).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), ROUND_RATIO).alias("avg_price"),
            F.round(F.avg("l_discount"), ROUND_RATIO).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@op(
    "group_agg_multi",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), {ROUND_MONEY}) AS sum_price,
           round(avg(o_totalprice), {ROUND_RATIO}) AS avg_price,
           round(min(o_totalprice), {ROUND_MONEY}) AS min_price,
           round(max(o_totalprice), {ROUND_MONEY}) AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("agg",),
)
def group_agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy with multiple named aggregates."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), ROUND_MONEY).alias("sum_price"),
        F.round(F.avg("o_totalprice"), ROUND_RATIO).alias("avg_price"),
        F.round(F.min("o_totalprice"), ROUND_MONEY).alias("min_price"),
        F.round(F.max("o_totalprice"), ROUND_MONEY).alias("max_price"),
    )


@op(
    "distinct_counts",
    oracle="""
    SELECT count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS n_rows
    FROM lineitem
    """,
    tags=("agg", "distinct"),
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts (n_unique surface). The approximate variant
    (HLL approx_count_distinct) lives in `approx_distinct` (rows-only)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@op(
    "approx_distinct",
    oracle=None,  # HLL sketch differs by implementation; rows-only check.
    tags=("agg", "approx"),
)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB-scale path where
    exact distinct would shuffle every key."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
    )


@op(
    "median_quantiles",
    oracle=f"""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), {ROUND_RATIO}) AS median_qty,
           round(quantile_cont(l_extendedprice, 0.25), {ROUND_RATIO}) AS p25_price,
           round(quantile_cont(l_extendedprice, 0.75), {ROUND_RATIO}) AS p75_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "quantile"),
)
def median_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median/quantiles per group (F.median / F.percentile are exact
    interpolated, matching DuckDB quantile_cont). At 100 TB prefer
    percentile_approx — see `approx_quantiles`."""
    li = _t(spark, sf_dir, "lineitem")
    # one percentile buffer for both price quantiles (array form) instead
    # of two independent aggregates
    pcts = F.percentile("l_extendedprice", F.array(F.lit(0.25), F.lit(0.75)))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.median("l_quantity"), ROUND_RATIO).alias("median_qty"),
            pcts.alias("__p"),
        )
        .select(
            "l_returnflag",
            "median_qty",
            F.round(F.element_at("__p", 1), ROUND_RATIO).alias("p25_price"),
            F.round(F.element_at("__p", 2), ROUND_RATIO).alias("p75_price"),
        )
    )


@op(
    "approx_quantiles",
    oracle=None,  # sketch-based; rows-only.
    tags=("agg", "quantile", "approx"),
)
def approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx — the scale path for quantiles (mergeable sketch,
    no full sort)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median_price"),
    )


@op(
    "stats_stddev_var",
    oracle=f"""
    SELECT l_linestatus,
           round(stddev_samp(l_quantity), {ROUND_RATIO}) AS std_qty,
           round(var_samp(l_quantity), {ROUND_RATIO}) AS var_qty,
           round(stddev_pop(l_discount), {ROUND_RATIO}) AS stdp_disc
    FROM lineitem
    GROUP BY l_linestatus
    """,
    tags=("agg", "stats"),
)
def stats_stddev_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion statistics (sample + population)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.stddev_samp("l_quantity"), ROUND_RATIO).alias("std_qty"),
        F.round(F.var_samp("l_quantity"), ROUND_RATIO).alias("var_qty"),
        F.round(F.stddev_pop("l_discount"), ROUND_RATIO).alias("stdp_disc"),
    )


@op(
    "argmax_top1",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    ORDER BY c_acctbal DESC, c_custkey ASC
    LIMIT 1
    """,
    tags=("sort", "limit"),
)
def argmax_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row with the max value ('who gets paid the most?' — reference
    examples/with_multiple_dataframes.py:25-27). Catalyst compiles this to
    TakeOrderedAndProject: no full sort, no full shuffle."""
    c = _t(spark, sf_dir, "customer")
    return (
        c.select("c_custkey", "c_name", "c_acctbal")
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .limit(1)
    )


@op(
    "value_counts",
    oracle="SELECT o_orderpriority AS value, count(*) AS n FROM orders GROUP BY o_orderpriority",
    tags=("agg",),
)
def value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """value_counts (chart-feeding categorical counts, reference
    helpers/shortcuts.py:82-102 pie/bar upstream agg)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderpriority").alias("value")).agg(F.count(F.lit(1)).alias("n"))


@op(
    "histogram_bins",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000.0) * 50000 AS BIGINT) AS bin_lo,
           count(*) AS n
    FROM orders
    GROUP BY 1
    """,
    tags=("agg", "chart"),
)
def histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning (reference helpers/shortcuts.py:126-138
    upstream agg)."""
    o = _t(spark, sf_dir, "orders")
    bin_lo = (F.floor(F.col("o_totalprice") / 50000.0) * 50000).cast("bigint").alias("bin_lo")
    return o.groupBy(bin_lo).agg(F.count(F.lit(1)).alias("n"))


@op(
    "rollup_region_nation",
    oracle=f"""
    SELECT r_name, n_name,
           round(sum(c_acctbal), {ROUND_MONEY}) AS sum_bal,
           count(*) AS n_custs,
           CAST(grouping(r_name) AS INTEGER) * 2 + CAST(grouping(n_name) AS INTEGER) AS gid
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    tags=("agg", "rollup"),
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (Spark-free extension beyond the reference
    surface — flagged optional in SURVEY.md §2b)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("c_acctbal"), ROUND_MONEY).alias("sum_bal"),
            F.count(F.lit(1)).alias("n_custs"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


@op(
    "cube_flag_status",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), {ROUND_MONEY}) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg", "cube"),
)
def cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), ROUND_MONEY).alias("sum_qty")
    )


@op(
    "tpch_q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), {ROUND_MONEY}) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "benchmark"),
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (adapted to this corpus's columns): selective filters
    on both join sides pushed to the scans, 2 fact joins, group-agg,
    top-10 by revenue."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(_revenue()), ROUND_MONEY).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@op(
    "tpch_q5_local_supplier",
    oracle=f"""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), {ROUND_MONEY}) AS revenue
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN region   ON r_regionkey = n_regionkey
    WHERE r_name = 'ASIA'
      AND c_nationkey = s_nationkey
    GROUP BY n_name
    """,
    tags=("join", "agg", "benchmark"),
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join with a local-supplier condition
    (customer and supplier in the same nation), dims broadcast, single
    aggregation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(_revenue()), ROUND_MONEY).alias("revenue"))
    )


@op(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
    tags=("tpch", "join", "semi", "agg"),
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking, adapted to this corpus's
    columns: 'late shipment' = any lineitem shipped 60+ days after the
    order date, standing in for commitdate < receiptdate). The EXISTS
    decorrelates into a LEFT SEMI join on the order key with the date
    condition riding the join — one pass over each side, no count-then-
    filter materialization. All-integer/timestamp arithmetic: nothing to
    round."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "leftsemi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@op(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT CAST(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,6)))
                     * 1000000 AS HUGEINT) AS BIGINT) AS revenue_micro
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("tpch", "filter", "agg"),
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): pure filter + scalar
    aggregate, no join — the query that exists to prove every predicate
    reaches the parquet scan (shipdate range, discount band, quantity
    cap are all in PushedFilters). Revenue sums as exact DECIMAL(28,6)
    micro-units so the single output value is integer-comparable."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        (F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(28,6)"))
         * 1000000)
        .cast("decimal(38,0)")
        .cast("long")
        .alias("revenue_micro")
    )


@op(
    "tpch_q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                              AS DECIMAL(28,6))), {ROUND_MONEY}) AS DOUBLE) AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("tpch", "join", "agg", "topk"),
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): top 20 customers by revenue
    lost to returns in one quarter. Both selective filters push to their
    scans, nation broadcasts, and the top-20 is TakeOrderedAndProject
    (never a global sort). Revenue sums as exact DECIMAL(28,6) per value
    — order-independent and half-up-tie-exact on both engines — then
    rounds to money scale."""
    dec = "decimal(28,6)"
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(F.sum(_revenue().cast(dec)), ROUND_MONEY)
            .cast("double")
            .alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@op(
    "tpch_q14_promo_revenue",
    oracle="""
    WITH sums AS (
        SELECT CAST(sum(CASE WHEN p.p_type = 'PROMO'
                             THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                                       AS DECIMAL(28,6)) ELSE 0 END) * 1000000
                    AS HUGEINT) AS promo_micro,
               CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(28,6))) * 1000000 AS HUGEINT) AS total_micro
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1996-02-01 00:00:00'
    )
    SELECT CAST((2*10000*100*promo_micro + total_micro) // (2*total_micro)
                AS DOUBLE) / 10000 AS promo_revenue_pct
    FROM sums
    """,
    tags=("tpch", "join", "agg", "ratio"),
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): share of one month's revenue from
    PROMO parts. The part side broadcasts; the conditional and total sums
    come out of ONE aggregation pass. Cross-engine exactness: revenues
    sum as exact DECIMAL(28,6) micro-units and the percentage is integer
    half-up at scale 4 — no float division anywhere."""
    dec = "decimal(28,6)"
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = _revenue().cast(dec)
    sums = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast(dec)))
             * 1000000).cast("decimal(38,0)").alias("promo_micro"),
            (F.sum(rev) * 1000000).cast("decimal(38,0)").alias("total_micro"),
        )
    )
    pct = (
        exact_floor_div(
            2 * 10000 * 100 * F.col("promo_micro") + F.col("total_micro"),
            2 * F.col("total_micro"),
        ).cast("double")
        / 10000
    )
    return sums.select(pct.alias("promo_revenue_pct"))


@op(
    "tpch_q19_disjunctive_filter",
    oracle=f"""
    SELECT CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                              AS DECIMAL(28,6))), {ROUND_MONEY}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
    tags=("tpch", "join", "filter", "agg"),
)
def tpch_q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, adapted to this corpus's
    columns): an OR-of-ANDs predicate spanning BOTH join sides. The
    common join key stays an equi hash join (broadcast part side); only
    the mixed residual rides the join as a post-condition — the classic
    Q19 plan test that a disjunction doesn't degrade the join to a
    nested loop. Part-only conjuncts could additionally be pushed as a
    pre-filter (brand IN (1,2,3)) without changing results."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1")
         & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2")
           & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3")
           & F.col("p_size").between(20, 50) & F.col("l_quantity").between(20, 40))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(F.sum(_revenue().cast("decimal(28,6)")), ROUND_MONEY)
            .cast("double")
            .alias("revenue")
        )
    )


@op(
    "tpch_q15_top_supplier",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey,
               CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                  AS DECIMAL(28,6))) * 1000000 AS HUGEINT)
                    AS BIGINT) AS total_revenue_micro
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    ), m AS (
        SELECT max(total_revenue_micro) AS max_micro FROM rev
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue_micro
    FROM rev r
    JOIN m ON r.total_revenue_micro = m.max_micro
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    """,
    tags=("tpch", "agg", "argmax", "join"),
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): supplier(s) whose quarterly revenue
    equals the maximum. The 'equal to scalar subquery' shape becomes an
    EQUI join on the exact micro-unit revenue against a broadcast 1-row
    max — integer equality, so ties surface identically on both engines
    and no global sort or window appears anywhere."""
    dec = "decimal(28,6)"
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        (F.sum(_revenue().cast(dec)) * 1000000)
        .cast("decimal(38,0)")
        .cast("long")
        .alias("total_revenue_micro")
    )
    m = rev.agg(F.max("total_revenue_micro").alias("max_micro"))
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(m), rev.total_revenue_micro == m.max_micro)
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue_micro")
    )


@op(
    "tpch_q18_large_volume_customer",
    oracle="""
    WITH big AS (
        SELECT l_orderkey, sum(CAST(l_quantity AS BIGINT)) AS total_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS BIGINT)) > 200
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, CAST(b.total_qty AS BIGINT) AS total_qty
    FROM big b
    JOIN orders o   ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
    tags=("tpch", "agg", "having", "topk"),
)
def tpch_q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer): orders whose total quantity
    exceeds 200, top-100 by order value. The HAVING pre-aggregates
    lineitem down to the (few) big orders BEFORE any join — the
    aggregate-then-join ordering that keeps the join input tiny at any
    scale — and the top-100 is TakeOrderedAndProject. l_quantity is
    integral in this corpus, so the BIGINT sums are exact on both
    engines (DuckDB CAST rounds / Spark truncates doubles — identical on
    whole numbers)."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"))
        .filter(F.col("total_qty") > 200)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@op(
    "tpch_q22_idle_rich_customers",
    oracle="""
    WITH pos AS (
        SELECT c_custkey, c_nationkey,
               CAST(CAST(c_acctbal AS DECIMAL(28,6)) * 1000000 AS HUGEINT)
                   AS bal_micro
        FROM customer
        WHERE c_acctbal > 0.0
    ), a AS (
        SELECT sum(bal_micro) AS s, count(*) AS n FROM pos
    ), idle AS (
        SELECT p.c_nationkey, p.bal_micro
        FROM pos p, a
        WHERE p.bal_micro * a.n > a.s
          AND NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = p.c_custkey
                AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
          )
    )
    SELECT n.n_name, CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(bal_micro) AS BIGINT) AS total_bal_micro
    FROM idle
    JOIN nation n ON n.n_nationkey = idle.c_nationkey
    GROUP BY n.n_name
    """,
    tags=("tpch", "anti", "agg", "scalar-subquery"),
)
def tpch_q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-relationship opportunity, adapted: no
    phone-prefix column, and every customer in this corpus has ordered
    at least once, so 'idle' = no order since 2000). Per nation,
    customers with above-average positive balance and no recent order.
    Three classic pieces in one plan: a broadcast 1-row scalar
    aggregate, the above-average compare MULTIPLIED THROUGH (bal*n > sum
    — exact decimal integers, no division, no rounding, no cross-engine
    avg drift), and a LEFT ANTI join against the (filter-pushed) recent
    orders."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0.0)
    pos = c.select(
        "c_custkey",
        "c_nationkey",
        (F.col("c_acctbal").cast("decimal(28,6)") * 1000000)
        .cast("decimal(38,0)")
        .alias("bal_micro"),
    )
    a = pos.agg(F.sum("bal_micro").alias("s"), F.count(F.lit(1)).alias("n"))
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    n = _t(spark, sf_dir, "nation")
    idle = (
        pos.crossJoin(F.broadcast(a))
        .filter(F.col("bal_micro") * F.col("n") > F.col("s"))
        .join(o, pos.c_custkey == o.o_custkey, "leftanti")
    )
    return (
        idle.join(F.broadcast(n), idle.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal_micro").cast("long").alias("total_bal_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------

@op(
    "join_inner_broadcast",
    oracle=f"""
    SELECT n_name, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), {ROUND_MONEY}) AS sum_price
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation   ON n_nationkey = c_nationkey
    GROUP BY n_name, o_orderpriority
    """,
    tags=("join", "agg"),
)
def join_inner_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join with an explicit broadcast of the dim side
    (reference examples/with_multiple_dataframes.py:8-27 join shape)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), ROUND_MONEY).alias("sum_price"),
        )
    )


@op(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_orders
    FROM customer
    LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
    tags=("join",),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving unmatched customers (count=0)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@op(
    "join_right_outer",
    oracle="""
    SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_orders
    FROM orders
    RIGHT JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
    tags=("join",),
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (Polars join(how='right') surface)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@op(
    "join_full_outer",
    oracle="""
    SELECT coalesce(a.k, b.k) AS k, a.n_f AS n_f, b.n_o AS n_o
    FROM (SELECT o_custkey AS k, count(*) AS n_f FROM orders WHERE o_orderstatus = 'F' GROUP BY 1) a
    FULL JOIN (SELECT o_custkey AS k, count(*) AS n_o FROM orders WHERE o_orderstatus = 'O' GROUP BY 1) b
      ON a.k = b.k
    """,
    tags=("join",),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two aggregates with disjoint key coverage."""
    o = _t(spark, sf_dir, "orders")
    a = (
        o.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_f"))
    )
    b = (
        o.filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_o"))
    )
    return a.join(b, a.k == b.k, "full").select(
        F.coalesce(a.k, b.k).alias("k"), "n_f", "n_o"
    )


@op(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)
    """,
    tags=("join", "semi"),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@op(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    """,
    tags=("join", "anti"),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS) — customers with no URGENT order.

    The priority slice keeps the remainder non-empty AND data-dependent
    at every SF (in TPC-H every customer in `customer` may have orders,
    which made the unfiltered variant prove itself on a trivially empty
    0 = 0 result — a wrong join type would still have matched)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@op(
    "join_cross",
    oracle="""
    SELECT a.r_name AS r1, b.r_name AS r2
    FROM region a CROSS JOIN region b
    WHERE a.r_regionkey < b.r_regionkey
    """,
    tags=("join", "cross"),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join (bounded to the fixed-size region dim; at scale cross
    joins are only ever dim x dim)."""
    r = _t(spark, sf_dir, "region")
    a = r.select(F.col("r_regionkey").alias("ka"), F.col("r_name").alias("r1"))
    b = r.select(F.col("r_regionkey").alias("kb"), F.col("r_name").alias("r2"))
    return a.crossJoin(b).filter(F.col("ka") < F.col("kb")).select("r1", "r2")


@op(
    "join_theta_inequality",
    oracle="""
    SELECT a.n_name AS n1, b.n_name AS n2
    FROM nation a
    JOIN nation b ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    """,
    tags=("join", "theta"),
)
def join_theta_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: equi component (regionkey) + inequality predicate.
    Catalyst uses the equi key for the join and applies the inequality as
    a post-condition — not a BNLJ."""
    n = _t(spark, sf_dir, "nation")
    a = n.select(F.col("n_nationkey").alias("ka"), F.col("n_name").alias("n1"), F.col("n_regionkey").alias("ra"))
    b = n.select(F.col("n_nationkey").alias("kb"), F.col("n_name").alias("n2"), F.col("n_regionkey").alias("rb"))
    return (
        a.join(b, (F.col("ra") == F.col("rb")) & (F.col("ka") < F.col("kb")))
        .select("n1", "n2")
    )


# ---------------------------------------------------------------------------
# Sorts / limits / top-k
# ---------------------------------------------------------------------------

@op(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
    tags=("sort", "limit"),
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (TakeOrderedAndProject — per-partition heaps, no full
    sort; ties broken by key for determinism)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------

@op(
    "union_concat",
    oracle="""
    SELECT o_custkey AS custkey, 'big_order' AS reason FROM orders WHERE o_totalprice > 250000.0
    UNION ALL
    SELECT c_custkey AS custkey, 'rich' AS reason FROM customer WHERE c_acctbal > 9000.0
    """,
    tags=("setop",),
)
def union_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL / concat (Polars pl.concat surface) via unionByName."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    a = o.filter(F.col("o_totalprice") > 250000.0).select(
        F.col("o_custkey").alias("custkey"), F.lit("big_order").alias("reason")
    )
    b = c.filter(F.col("c_acctbal") > 9000.0).select(
        F.col("c_custkey").alias("custkey"), F.lit("rich").alias("reason")
    )
    return a.unionByName(b)


@op(
    "intersect_keys",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("setop",),
)
def intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (customers with both an 'F' and an 'O' order)."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    b = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b)


@op(
    "except_keys",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("setop",),
)
def except_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set difference on keys)."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    b = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return a.subtract(b)


@op(
    "tpch_q17_small_qty_revenue",
    oracle="""
    WITH per_part AS (
        SELECT l_partkey,
               sum(CAST(l_quantity AS DECIMAL(28,6))) AS sum_qty,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem
        GROUP BY 1
    ), small AS (
        SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(28,6))) * 1000000
                    AS HUGEINT) AS sum_micro
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#4'
        JOIN per_part a ON a.l_partkey = l.l_partkey
        WHERE 5 * CAST(l.l_quantity AS DECIMAL(28,6)) * a.n < a.sum_qty
    )
    SELECT CAST((2*100*sum_micro + 7000000) // (2*7000000) AS DOUBLE) / 100
               AS avg_yearly
    FROM small
    """,
    tags=("tpch", "join", "agg", "correlated"),
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): yearly revenue lost if
    low-quantity orders (below 20% of the per-part average) for one brand
    went unfilled. The correlated subquery decorrelates into one per-part
    aggregate joined back to lineitem — the standard Catalyst-friendly
    rewrite. Cross-engine exactness: the 20%-of-average threshold is
    multiplied through (5*qty*n < sum_qty) so there is NO division or
    rounding in the filter, quantities/prices sum as exact DECIMAL(28,6),
    and the final /7 is exact integer half-up on micro-units."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4")
    dec = "decimal(28,6)"
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast(dec)).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )
    small = (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(per_part, "l_partkey")
        .filter(5 * F.col("l_quantity").cast(dec) * F.col("n") < F.col("sum_qty"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast(dec)) * 1000000)
            .cast("decimal(38,0)")
            .alias("sum_micro")
        )
    )
    avg_yearly = (
        exact_floor_div(2 * 100 * F.col("sum_micro") + 7000000, F.lit(2 * 7000000))
        .cast("double") / 100
    )
    return small.select(avg_yearly.alias("avg_yearly"))


@op(
    "revenue_share_of_region",
    oracle="""
    WITH nat AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(28,6))) * 1000000 AS HUGEINT) AS rev_micro
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        GROUP BY 1, 2
    ), tot AS (
        SELECT region, nation, rev_micro,
               sum(rev_micro) OVER (PARTITION BY region) AS region_micro
        FROM nat
    )
    SELECT region, nation,
           CAST((2*100*rev_micro + 1000000) // 2000000 AS DOUBLE) / 100 AS revenue,
           CAST((2*1000000*rev_micro + region_micro) // (2*region_micro)
                AS DOUBLE) / 1000000 AS share_of_region
    FROM tot
    """,
    tags=("window", "agg", "ratio", "bi"),
)
def revenue_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio_to_report): each nation's share of its
    region's revenue — the classic BI windowed ratio. Revenue aggregates
    in exact DECIMAL micro-units; the region total is a keyed window sum
    over the (25-row) nation aggregate, so the window state is bounded by
    the dim cardinality at any fact size; the share divides the two exact
    integers with half-up rounding (no float summation anywhere)."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")
    nat = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg((F.sum(rev) * 1000000).cast("decimal(38,0)").alias("rev_micro"))
    )
    region_micro = F.sum("rev_micro").over(Window.partitionBy("region"))
    share = (
        exact_floor_div(2 * 1000000 * F.col("rev_micro") + F.col("region_micro"),
                        2 * F.col("region_micro")).cast("double") / 1000000
    )
    return (
        nat.withColumn("region_micro", region_micro)
        .select(
            "region",
            "nation",
            (exact_floor_div(2 * 100 * F.col("rev_micro") + 1000000, F.lit(2000000))
             .cast("double") / 100)
            .alias("revenue"),
            share.alias("share_of_region"),
        )
    )


@op(
    "histogram_2d",
    oracle="""
    SELECT CAST(floor(l_quantity / 10.0) * 10 AS BIGINT) AS qty_bin_lo,
           CAST(floor(l_extendedprice / 20000.0) * 20000 AS BIGINT) AS price_bin_lo,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY qty_bin_lo, price_bin_lo
    """,
    tags=("agg", "histogram", "chart"),
)
def histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D fixed-width binning — the heatmap / scatter-density upstream
    aggregate (the 2-D member of the chart-feeding family next to
    histogram_bins). One hash aggregation on the compound bin key;
    output cardinality is bounded by the bin grid, never the data, so
    the driver-side render stays safe at any corpus size."""
    li = _t(spark, sf_dir, "lineitem")
    qty_bin = (F.floor(F.col("l_quantity") / 10.0) * 10).cast("bigint").alias("qty_bin_lo")
    price_bin = (
        (F.floor(F.col("l_extendedprice") / 20000.0) * 20000).cast("bigint").alias("price_bin_lo")
    )
    return li.groupBy(qty_bin, price_bin).agg(F.count(F.lit(1)).alias("n"))


def _nation_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem with its supplier's nation key and n_name attached, both
    dims broadcast into the fact scan."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return li.join(
        F.broadcast(s.select("s_suppkey", "s_nationkey")), li.l_suppkey == s.s_suppkey
    ).join(
        F.broadcast(n.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )


@op(
    "weighted_median_per_group",
    oracle="""
    WITH v AS (
        SELECT n.n_name,
               CAST(CAST(l.l_extendedprice AS DECIMAL(28,6)) * 100 AS HUGEINT)
                   AS cents,
               CAST(l.l_quantity AS HUGEINT) AS wt,
               l.l_orderkey, l.l_linenumber
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
    ), cum AS (
        SELECT n_name, cents,
               sum(wt) OVER (PARTITION BY n_name
                             ORDER BY cents, l_orderkey, l_linenumber
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cw,
               sum(wt) OVER (PARTITION BY n_name) AS tw
        FROM v
    ), hit AS (
        SELECT n_name, cents,
               row_number() OVER (PARTITION BY n_name ORDER BY cents) AS rn
        FROM cum WHERE 2*cw >= tw
    )
    SELECT n_name, CAST(cents AS BIGINT) AS weighted_median_cents
    FROM hit WHERE rn = 1
    """,
    tags=("agg", "window", "stats"),
)
def weighted_median_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per supplier nation — the 'price
    of the typical UNIT sold' (not the typical line item), the weighted
    quantile no built-in aggregate expresses. Classic cumulative-weight
    formulation: order by price within the group (unique line keys as
    total tiebreak), running weight sum, first row where 2*cumw >=
    totw. Both windows and the final pick share the ONE nation
    partitioning; weights and prices are exact integers end-to-end, so
    the selected value is deterministic and hash-checkable. Per-group
    state is the sort — at 100 TB groups are nation-sized partitions,
    the same contract as every keyed window here."""
    dec = "decimal(38,0)"
    v = (
        _nation_lines(spark, sf_dir)
        .select(
            "n_name",
            (F.col("l_extendedprice").cast("decimal(28,6)") * 100)
            .cast(dec).alias("cents"),
            F.col("l_quantity").cast(dec).alias("wt"),
            "l_orderkey", "l_linenumber",
        )
    )
    w_cum = (
        Window.partitionBy("n_name")
        .orderBy("cents", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = v.select(
        "n_name", "cents",
        F.sum("wt").over(w_cum).alias("cw"),
        F.sum("wt").over(Window.partitionBy("n_name")).alias("tw"),
    )
    hit = cum.filter(2 * F.col("cw") >= F.col("tw")).select(
        "n_name", "cents",
        F.row_number().over(
            Window.partitionBy("n_name").orderBy("cents")
        ).alias("rn"),
    )
    return hit.filter(F.col("rn") == 1).select(
        "n_name", F.col("cents").cast("long").alias("weighted_median_cents")
    )


@op(
    "join_null_safe",
    oracle="""
    WITH o AS (
        SELECT o_orderkey,
               CASE WHEN o_custkey % 97 = 0 THEN NULL ELSE o_custkey END AS k
        FROM orders
    ), c AS (
        SELECT CASE WHEN c_custkey % 97 = 0 THEN NULL ELSE c_custkey END AS k,
               count(*) AS n_cust
        FROM customer GROUP BY 1
    )
    SELECT o.k AS join_key, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(any_value(c.n_cust) AS BIGINT) AS n_cust
    FROM o JOIN c ON o.k IS NOT DISTINCT FROM c.k
    GROUP BY o.k
    """,
    tags=("join", "semantics"),
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys MATCH
    each other instead of silently dropping — the production trap where
    a plain inner join loses every row whose key didn't parse. Keys are
    deterministically nulled (every 97th) so the corpus exhibits the
    corner. Spark's eqNullSafe compiles to a standard hash join (null
    hashes like any value under <=>), so the plan and scale behavior
    are identical to a plain equi-join — asserted by the oracle
    comparing the grouped match counts, where the NULL x NULL match
    cardinality shows up loudly if either side drops them."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_custkey") % 97 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("o_custkey")).alias("k"),
    )
    c = (
        _t(spark, sf_dir, "customer")
        .select(
            F.when(F.col("c_custkey") % 97 == 0, F.lit(None).cast("long"))
            .otherwise(F.col("c_custkey")).alias("k")
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    return (
        o.join(c, o.k.eqNullSafe(c.k))
        .groupBy(o.k.alias("join_key"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.any_value("n_cust").cast("long").alias("n_cust"),
        )
    )


@op(
    "basket_size_hist",
    oracle="""
    WITH per AS (
        SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY 1
    )
    SELECT CAST(n_items AS INTEGER) AS n_items,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM per GROUP BY n_items
    """,
    tags=("agg", "histogram"),
)
def basket_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size distribution: line items per order, then the count
    of orders at each size — the degree distribution of the
    order->lineitem relation (the one-to-many fan-out every capacity
    estimate and data-generator validation reads first). Two
    aggregations, the second over the bounded size domain; both
    map-side combine."""
    li = _t(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_items"))
    return per.groupBy(F.col("n_items").cast("int").alias("n_items")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@op(
    "lead_time_by_priority",
    oracle=f"""
    WITH lt AS (
        SELECT o.o_orderpriority,
               datediff('day', CAST(o.o_orderdate AS DATE),
                        CAST(l.l_shipdate AS DATE)) AS days
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(min(days) AS INTEGER) AS min_days,
           CAST(max(days) AS INTEGER) AS max_days,
           {oracle_ratio_round('sum(days)', 'count(*)')} AS avg_days
    FROM lt GROUP BY o_orderpriority
    """,
    tags=("join", "agg", "ops-metric"),
)
def lead_time_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment lead time (order date -> ship date) by order
    priority — the SLA scorecard: does URGENT actually ship faster?
    Day deltas are exact integers (calendar datediff, no timestamp
    arithmetic), the mean is the shared half-up rational, and the only
    shuffle is the fact-fact order join AQE already owns; the rollup
    state is bounded by the 5 priority classes."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    lt = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("days"),
    )
    return lt.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.min("days").cast("int").alias("min_days"),
        F.max("days").cast("int").alias("max_days"),
        ratio_round(F.sum("days"), F.count(F.lit(1))).alias("avg_days"),
    )


@op(
    "repeat_customer_share",
    oracle=f"""
    WITH ranked AS (
        SELECT o_custkey,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               CAST(CAST(o_totalprice AS DECIMAL(28,6)) * 100 AS HUGEINT) AS cents,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
    )
    SELECT month,
           CAST(sum(CASE WHEN rn > 1 THEN cents ELSE 0 END) AS BIGINT)
               AS repeat_cents,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           {oracle_ratio_round('sum(CASE WHEN rn > 1 THEN cents ELSE 0 END)', 'sum(cents)')}
               AS repeat_share
    FROM ranked GROUP BY month
    """,
    tags=("window", "agg", "analytics"),
)
def repeat_customer_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase revenue share per month — the retention-quality
    KPI growth teams watch (is revenue coming from the base or from
    acquisition?). 'First order' is a per-customer row_number (one
    keyed window — deterministic via the order-key tiebreak), the
    monthly rollup reuses no second scan, and the share is the exact
    integer rational over cents."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = o.select(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month"),
        (F.col("o_totalprice").cast("decimal(28,6)") * 100)
        .cast("decimal(38,0)").alias("cents"),
        F.row_number().over(w).alias("rn"),
    )
    repeat_cents = F.sum(F.when(F.col("rn") > 1, F.col("cents")).otherwise(F.lit(0).cast("decimal(38,0)")))
    return ranked.groupBy("month").agg(
        repeat_cents.cast("long").alias("repeat_cents"),
        F.sum("cents").cast("long").alias("total_cents"),
        ratio_round(repeat_cents, F.sum("cents")).alias("repeat_share"),
    )


@op(
    "brand_supplier_hhi",
    oracle=f"""
    WITH rev AS (
        SELECT p.p_brand, l.l_suppkey,
               sum(CAST(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(28,6)) * 1000000 AS HUGEINT)) AS micro
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ), tot AS (
        SELECT p_brand, sum(micro) AS t, count(*) AS n_suppliers FROM rev
        GROUP BY p_brand
    )
    SELECT r.p_brand,
           CAST(any_value(t2.n_suppliers) AS BIGINT) AS n_suppliers,
           {oracle_ratio_round('sum(r.micro * r.micro)', 'any_value(t2.t) * any_value(t2.t)')}
               AS hhi
    FROM rev r JOIN tot t2 USING (p_brand)
    GROUP BY r.p_brand
    """,
    tags=("agg", "stats", "analytics"),
)
def brand_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-concentration Herfindahl index per brand: HHI =
    sum(share_i^2) = sum(rev_i^2) / (sum(rev_i))^2 — computed as ONE
    exact integer rational (no per-share rounding at all, the identity
    every textbook uses to dodge intermediate divisions). 1/n = perfect
    competition, 1.0 = single-supplier brand; the sourcing-risk metric.
    Two keyed aggregations sharing the brand key; dims broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(p.select("p_partkey", "p_brand")),
                li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "l_suppkey")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                  .cast("decimal(28,6)").cast("decimal(38,6)") * 1000000)
            .cast("decimal(38,0)").alias("micro")
        )
    )
    return rev.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        ratio_round(
            F.sum(F.col("micro") * F.col("micro")),
            F.sum("micro") * F.sum("micro"),
        ).alias("hhi"),
    )


@op(
    "discount_band_elasticity",
    oracle=f"""
    WITH b AS (
        SELECT CAST(CAST(l_discount AS DECIMAL(28,6)) * 100 AS INTEGER)
                   AS discount_pct,
               CAST(l_quantity AS HUGEINT) AS qty
        FROM lineitem
    )
    SELECT discount_pct,
           CAST(count(*) AS BIGINT) AS n_lines,
           {oracle_ratio_round('sum(qty)', 'count(*)')} AS avg_qty
    FROM b GROUP BY discount_pct
    """,
    tags=("agg", "analytics"),
)
def discount_band_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity response by discount band — the raw elasticity read
    ('do deeper discounts move more units?') behind pricing decisions
    and TPC-H Q19's parameter choices. Discount converts to an exact
    integer percent via the DECIMAL cast (the values carry two
    decimals), quantities are integral, the mean is the shared half-up
    rational — an 11-row bounded rollup from one narrow scan."""
    li = _t(spark, sf_dir, "lineitem")
    b = li.select(
        (F.col("l_discount").cast("decimal(28,6)") * 100)
        .cast("decimal(38,0)").cast("int").alias("discount_pct"),
        F.col("l_quantity").cast("decimal(38,0)").alias("qty"),
    )
    return b.groupBy("discount_pct").agg(
        F.count(F.lit(1)).alias("n_lines"),
        ratio_round(F.sum("qty"), F.count(F.lit(1))).alias("avg_qty"),
    )


@op(
    "setops_all_multiplicity",
    oracle="""
    WITH a AS (
        SELECT l_returnflag AS flag, l_linestatus AS status
        FROM lineitem WHERE l_quantity > 25
    ), b AS (
        SELECT l_returnflag AS flag, l_linestatus AS status
        FROM lineitem WHERE l_discount > 0.05
    ), ex AS (
        SELECT 'except_all' AS setop, flag, status, count(*) AS n
        FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        GROUP BY 2, 3
    ), ia AS (
        SELECT 'intersect_all' AS setop, flag, status, count(*) AS n
        FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        GROUP BY 2, 3
    )
    SELECT setop, flag, status, CAST(n AS BIGINT) AS n FROM ex
    UNION ALL
    SELECT setop, flag, status, CAST(n AS BIGINT) AS n FROM ia
    """,
    tags=("setop",),
)
def setops_all_multiplicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL / INTERSECT ALL — the multiplicity-preserving set ops
    (bag semantics: per duplicate row, max(m-n, 0) and min(m, n)
    copies survive) that the DISTINCT-flavored except_keys /
    intersect_keys cannot express. Spark implements both as a single
    aggregate-then-generate over the union (count per side, replicate
    the difference) — no pairwise matching; the op rolls the surviving
    bags up per key so the multiplicities themselves are what the
    oracle hashes."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") > 25).select(
        F.col("l_returnflag").alias("flag"), F.col("l_linestatus").alias("status")
    )
    b = li.filter(F.col("l_discount") > 0.05).select(
        F.col("l_returnflag").alias("flag"), F.col("l_linestatus").alias("status")
    )
    ex = (
        a.exceptAll(b)
        .groupBy("flag", "status")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("setop"), "flag", "status", "n")
    )
    ia = (
        a.intersectAll(b)
        .groupBy("flag", "status")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("setop"), "flag", "status", "n")
    )
    return ex.unionByName(ia)


@op(
    "union_allow_missing_columns",
    oracle="""
    SELECT doc_id, lang, NULL AS n_chars FROM documents WHERE lang = 'en'
    UNION ALL BY NAME
    SELECT doc_id, NULL AS lang, n_chars FROM documents WHERE lang <> 'en'
    """,
    tags=("setop", "schema-evolution"),
)
def union_allow_missing_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: unionByName(allowMissingColumns=True)
    aligns two frames with different column sets, null-filling the
    gaps — the shape every multi-generation data lake hits when old
    partitions lack new columns (companion to the mergeSchema write
    test in sources/). Resolution is BY NAME, not position, so a
    reordered producer can't silently cross-wire columns."""
    d = _t(spark, sf_dir, "documents")
    en = d.filter(F.col("lang") == "en").select("doc_id", "lang")
    rest = d.filter(F.col("lang") != "en").select("doc_id", "n_chars")
    return en.unionByName(rest, allowMissingColumns=True)


_ABC_SQL = """
    WITH pr AS (
        SELECT l_partkey,
               sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))
                   * 1000000) AS revm
        FROM lineitem GROUP BY 1
    ), t AS (
        SELECT sum(revm) AS total FROM pr
    ), r AS (
        SELECT l_partkey, revm,
               row_number() OVER (ORDER BY revm DESC, l_partkey) AS rnk,
               sum(revm) OVER (ORDER BY revm DESC, l_partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM pr
    )
    SELECT l_partkey,
           CAST(revm AS BIGINT) AS revenue_micro,
           CAST(rnk AS BIGINT) AS revenue_rank,
           CASE WHEN 5 * cum <= 4 * t.total THEN 'A'
                WHEN 20 * cum <= 19 * t.total THEN 'B'
                ELSE 'C' END AS abc_class
    FROM r CROSS JOIN t
"""


@op(
    "abc_part_classification",
    oracle=_ABC_SQL,
    tags=("analytics", "pareto", "window"),
)
def abc_part_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: rank parts by revenue, class A
    while the running share stays <= 80%, B to 95%, C beyond — the
    Lorenz/Pareto cut every supply-chain and storage-tiering decision
    uses. Revenue accumulates in exact integer micro-units and the
    class thresholds are exact integer comparisons (5*cum <= 4*total),
    so class boundaries can't wobble on float ties.

    Scale shape (round-6 upgrade, the gains_chart_langid two-pass
    scheme): ranks and running sums are EXACT but no window ever sees
    the whole part dimension — parts hash into $1000-wide revenue
    buckets; one bounded bucket histogram carries the
    strictly-higher-bucket count/sum cumulatives (plus the grand total
    on the same pass); each part then gets rank = higher_n + in-bucket
    row_number and cum = higher_sum + in-bucket running sum through
    HASH-PARTITIONED windows. Bucket order = revenue order because the
    bucket key is revenue DIV width, so the composition is exactly the
    global (revm DESC, partkey ASC) ordering."""
    li = _t(spark, sf_dir, "lineitem")
    revm = (
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(28,6)")
        * 1000000
    )
    # per-part totals are integer-valued micro-units: long-exact
    pr = li.groupBy("l_partkey").agg(
        F.sum(revm).cast("long").alias("revl")
    )
    bucket_w = 1_000_000_000  # $1000 in micro-units
    prb = pr.withColumn("b", F.expr(f"revl DIV {bucket_w}"))
    hist = prb.groupBy("b").agg(
        F.count(F.lit(1)).alias("n_b"),
        F.sum(F.col("revl").cast("decimal(38,0)")).alias("s_b"),
    )
    w_hi = Window.orderBy(F.desc("b")).rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy(F.desc("b")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    zero = F.lit(0).cast("decimal(38,0)")
    cumh = hist.select(
        "b",
        F.coalesce(F.sum("n_b").over(w_hi), F.lit(0)).cast("long").alias("n_higher"),
        F.coalesce(F.sum("s_b").over(w_hi), zero).alias("s_higher"),
        F.sum("s_b").over(w_all).alias("total"),
    )
    w_in = Window.partitionBy("b").orderBy(F.desc("revl"), F.asc("l_partkey"))
    w_run = w_in.rowsBetween(Window.unboundedPreceding, 0)
    r = prb.join(F.broadcast(cumh), "b").select(
        "l_partkey",
        "revl",
        (F.col("n_higher") + F.row_number().over(w_in)).alias("rnk"),
        (
            F.col("s_higher")
            + F.sum(F.col("revl").cast("decimal(38,0)")).over(w_run)
        ).alias("cum"),
        "total",
    )
    return r.select(
        "l_partkey",
        F.col("revl").alias("revenue_micro"),
        F.col("rnk").cast("long").alias("revenue_rank"),
        F.when(5 * F.col("cum") <= 4 * F.col("total"), "A")
        .when(20 * F.col("cum") <= 19 * F.col("total"), "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@op(
    "star_denormalize_wide",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber,
           l.l_quantity, l.l_extendedprice,
           o.o_orderstatus, o.o_orderpriority,
           c.c_mktsegment,
           n.n_name AS customer_nation,
           p.p_brand,
           s.s_name AS supplier_name
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    """,
    tags=("join", "star", "denormalize"),
)
def star_denormalize_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-Big-Table materialization: the full star join (fact ->
    orders -> customer -> nation, fact -> part, fact -> supplier)
    flattened into the wide row BI tools and feature stores read.
    Plan shape at 100 TB: ONE fact-fact shuffle (lineitem-orders on
    the orderkey); every dimension (customer at this corpus's scale,
    nation, part, supplier) rides a broadcast hash join, so the five
    joins cost one exchange — the plan this op exists to demonstrate
    (asserted in the plan suite)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "o_orderstatus",
            "o_orderpriority",
            "c_mktsegment",
            F.col("n_name").alias("customer_nation"),
            "p_brand",
            F.col("s_name").alias("supplier_name"),
        )
    )


_RLS_ALLOWED_NATIONS = (1, 5, 9, 13, 17, 21)  # policy: analyst region grant

from my_polars_ai_spark.operators.base import BALANCE_BAND_SQL as _BAND_SQL
from my_polars_ai_spark.operators.base import balance_band as _balance_band

_RLS_SQL = f"""
    SELECT c_custkey,
           substr(md5(c_name), 1, 8) AS name_token,
           c_nationkey,
           c_mktsegment,
           {_BAND_SQL} AS acctbal_band
    FROM customer
    WHERE c_nationkey IN {_RLS_ALLOWED_NATIONS}
"""


@op(
    "rls_masked_view",
    oracle=_RLS_SQL,
    tags=("governance", "security", "filter"),
)
def rls_masked_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level security + column masking as one declarative view: the
    policy (a nation grant list) becomes a pushdown-able IN filter, PII
    (name) is tokenized to an md5 prefix — joinable, not reversible —
    and the precise balance is coarsened to a band. This is the
    governance pattern warehouses implement with RLS policies + masking
    functions; expressed as a plain projection+filter it stays inside
    whole-stage codegen, the filter reaches the parquet scan
    (PushedFilters), and every downstream op composes with it
    unchanged. Companion to pii_redact (content scrub) and the
    k-anonymity/l-diversity audits (release checks)."""
    c = _t(spark, sf_dir, "customer")
    return c.filter(F.col("c_nationkey").isin(*_RLS_ALLOWED_NATIONS)).select(
        "c_custkey",
        F.substring(F.md5("c_name"), 1, 8).alias("name_token"),
        "c_nationkey",
        "c_mktsegment",
        _balance_band().alias("acctbal_band"),
    )


_MEDIAN_2P_SQL = """
    WITH o AS (
        SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM lineitem
    ), r AS (
        SELECT c, row_number() OVER (ORDER BY c) AS rn, count(*) OVER () AS n
        FROM o
    )
    SELECT CAST(max(CASE WHEN rn = (n - 1) // 2 + 1 THEN c END) AS BIGINT)
               AS lower_cents,
           CAST(max(CASE WHEN rn = n // 2 + 1 THEN c END) AS BIGINT)
               AS upper_cents,
           CAST(max(n) AS BIGINT) AS n
    FROM r
"""


@op(
    "median_two_pass_exact",
    oracle=_MEDIAN_2P_SQL,
    tags=("agg", "quantile", "scale"),
)
def median_two_pass_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median order statistics with NO global sort and NO
    per-group percentile buffer — the 100 TB path `median_quantiles`'
    docstring defers to approx sketches for, made exact: (1) rows hash
    into $100 price buckets and ONE bounded histogram pass yields each
    bucket's strictly-below count plus the total N; (2) a
    HASH-PARTITIONED row_number within buckets composes the global rank
    (the two-pass bucketed-rank scheme), and only the one or two rows
    whose global rank hits the median order statistics k1=(N-1)//2+1,
    k2=N//2+1 survive the filter. The interpolated median is
    (lower+upper)/2, left to the caller as exact integer cents so no
    float-division seam enters the compare (the oracle states the same
    two order statistics via a plain global row_number)."""
    li = _t(spark, sf_dir, "lineitem")
    rows = li.select(
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("c")
    ).withColumn("b", F.expr("c DIV 10000"))
    hist = rows.groupBy("b").agg(F.count(F.lit(1)).alias("n_b"))
    w_lt = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "b",
        F.coalesce(F.sum("n_b").over(w_lt), F.lit(0)).cast("long").alias("below"),
        F.sum("n_b").over(w_all).cast("long").alias("n_all"),
    )
    w_in = Window.partitionBy("b").orderBy("c")
    g = (
        rows.join(F.broadcast(cum), "b")
        .withColumn("gr", F.col("below") + F.row_number().over(w_in))
    )
    k1 = F.expr("(n_all - 1) DIV 2 + 1")
    k2 = F.expr("n_all DIV 2 + 1")
    picked = g.filter((F.col("gr") == k1) | (F.col("gr") == k2))
    return picked.agg(
        F.max(F.when(F.col("gr") == k1, F.col("c"))).alias("lower_cents"),
        F.max(F.when(F.col("gr") == k2, F.col("c"))).alias("upper_cents"),
        F.max("n_all").alias("n"),
    )
