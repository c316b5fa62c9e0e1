"""Access to the TPC-H-ish test corpus (TESTDATA.md).

Tables are plain parquet files; at 100 TB these would be
partitioned/bucketed tables behind a catalog, but the access pattern is
identical: ``spark.read.parquet`` with Catalyst doing column pruning and
predicate pushdown into the scan.

``DIM_TABLES`` marks relations that stay small at any scale factor:
region and nation are fixed-cardinality (5 and 25 rows), so joins
against them should broadcast, never shuffle the fact side. supplier
is not one of them: it has 10,000 rows per scale factor (10 at sf0.001,
1,000 at sf0.1, about 10^9 at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from my_polars_ai_spark.operators.base import record_read, session_memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Fixed cardinality at any SF -> always broadcast-join these.
DIM_TABLES = frozenset({"region", "nation"})


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Coerce the events ``ts`` column to session-tz TIMESTAMP regardless
    of how the parquet stored it (nanos-as-long vs native micros)."""
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":  # TIMESTAMP(NANOS) file read under nanosAsLong
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if dtype == "timestamp_ntz":  # TIMESTAMP(MICROS) file, no tz marker
        # Session tz is pinned to UTC above, so this cast is
        # wall-clock-preserving and matches what DuckDB reads.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def scan_partitions(df: DataFrame) -> int | None:
    """Partitions the scan of ``df`` plans without running a job, or
    ``None`` on Spark Connect, which has no RDD API.

    The probe plans a fresh derived Dataset: PySpark caches
    ``DataFrame.rdd`` per object and the JVM ``Dataset.rdd`` is a lazy
    val, so probing a reused table handle directly would return the
    split count planned under the split confs of its first probe."""
    try:
        return df.select("*").rdd.getNumPartitions()
    except NotImplementedError:
        return None


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return normalize_events_ts(df) if name == "events" else df


@session_memo
def _table_handle(spark: SparkSession, sf_dir: str, name: str):
    """One read per (session, sf_dir, table) while the file stamp holds:
    the listing and the footer schema inference run once, not on every
    op build.

    The fill first refreshes every cache entry over the file. An op
    that ``.cache()``s a frame outside a session memo leaves a
    CacheManager entry that nothing unpersists, and Spark matches the
    rebuilt plan to that entry by path, so after a rewrite it would
    serve the old file's rows."""
    path = f"{sf_dir}/{name}.parquet"
    record_read(path)
    spark.catalog.refreshByPath(path)
    return _read(spark, sf_dir, name), ()


def load_table(spark: SparkSession, sf_dir: str, name: str, spread: bool = False) -> DataFrame:
    """Read one corpus table.

    The read is a session memo checked against the file stamp of
    ``<sf_dir>/<name>.parquet`` (``base.record_read``): its
    ``(mtime_ns, size)``, or for a directory the ``(name, mtime_ns,
    size)`` of every entry. While the stamp holds, every call in a
    session returns the SAME DataFrame with no listing and no schema-inference job (~95 ms per read at
    sf0.1 on 4 cores); a rewritten or extended table gets a fresh read,
    and the superseded handle is dropped. A path that cannot be stamped
    (a remote URI, a missing table) is read, and its cache entries
    refreshed, on every call. The session
    conf pins below run on every call, hit or miss.

    A fresh read first refreshes the CacheManager entries over the file
    (``spark.catalog.refreshByPath``), so no ``.cache()``d frame serves
    a rewritten table's old rows. The CacheManager is shared by every
    session of the SparkContext: a first load in a new session also
    refreshes other live sessions' entries over that path, and each of
    those entries refills once, lazily, on its next use.

    ``spread`` is decided per call, on top of the shared read: a parquet
    scan splits a file into byte ranges of at most
    ``spark.sql.files.maxPartitionBytes``, so a small file is one input
    split and caps every pre-shuffle stage at one task. With ``spread``,
    a scan that plans fewer partitions than ``defaultParallelism`` is
    round-robin repartitioned to it. Use it where the narrow phase
    dominates (UDF decode, per-row parsing, tokenize/md5 gram hashing).
    It costs one shuffle, so leave it off for ops whose first step is a
    groupBy/join: AQE re-partitions there anyway. A scan that already
    parallelizes gets no extra shuffle, and on Spark Connect, where the
    scan cannot be probed, the table is returned as read.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Oracle comparisons need UTC wall-times regardless of who built the
    # session (the driver harness supplies its own SparkSession).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # Corpus generations have stored events.ts as either parquet
        # TIMESTAMP(NANOS) (unsupported by Spark's reader -> read nanos as
        # long and convert losslessly) or TIMESTAMP(MICROS) (read natively
        # as timestamp_ntz). normalize_events_ts turns both into
        # session-tz TIMESTAMP so every downstream operator and the
        # DuckDB oracle see identical UTC wall-times. Runtime conf so it
        # works under any caller-provided session.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _table_handle(spark, sf_dir, name)
    if spread and (parts := scan_partitions(df)) is not None:
        target = spark.sparkContext.defaultParallelism
        if parts < target:
            df = df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view for the SQL API / the engine."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
