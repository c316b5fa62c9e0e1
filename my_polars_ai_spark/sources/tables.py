"""Access to the TPC-H-ish test corpus (TESTDATA.md).

Tables are plain parquet files; at 100 TB these would be
partitioned/bucketed tables behind a catalog, but the access pattern is
identical: ``spark.read.parquet`` with Catalyst doing column pruning and
predicate pushdown into the scan.

``DIM_TABLES`` marks relations that stay small at any scale factor
(region/nation are fixed-cardinality; supplier grows slowly) — joins
against them should broadcast, never shuffle the fact side.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession

from my_polars_ai_spark.operators.base import session_memo

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

# Fixed/slow-growing cardinality at any SF -> always broadcast-join these.
DIM_TABLES = frozenset({"region", "nation", "supplier"})


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


def _file_stamp(path: str) -> tuple | None:
    """``(mtime_ns, size)`` of a table file; for a table directory, the
    sorted ``(name, mtime_ns, size)`` of its entries. ``None`` when the
    path is not a local file or directory (a remote URI, a missing
    table)."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return st.st_mtime_ns, st.st_size
        with os.scandir(path) as it:
            stats = [(e.name, e.stat()) for e in it]
    except OSError:
        return None
    return tuple(sorted((n, s.st_mtime_ns, s.st_size) for n, s in stats))


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return normalize_events_ts(df) if name == "events" else df


@session_memo
def _table_handle(spark: SparkSession, sf_dir: str, name: str, stamp: tuple):
    """One read per (session, sf_dir, table, file stamp): the listing
    and the footer schema inference run once, not on every op build."""
    return _read(spark, sf_dir, name), ()


def load_table(spark: SparkSession, sf_dir: str, name: str, spread: bool = False) -> DataFrame:
    """Read one corpus table.

    The read is a session memo keyed on the file stamp of
    ``<sf_dir>/<name>.parquet``: its ``(mtime_ns, size)``, or for a
    directory the ``(name, mtime_ns, size)`` of every entry. While the
    stamp holds, every call in a session returns the SAME DataFrame
    with no listing and no schema-inference job (~95 ms per read at
    sf0.1 on 4 cores); a rewritten or extended table gets a fresh read,
    and the superseded handle is dropped. A path that cannot be stamped
    (a remote URI, a missing table) is read on every call. The session
    conf pins below run on every call, hit or miss.

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
    stamp = _file_stamp(f"{sf_dir}/{name}.parquet")
    if stamp is None:
        df = _read(spark, sf_dir, name)
    else:
        superseded = [k for k in _table_handle.entries if k[:3] == (spark, sf_dir, name) and k[3] != stamp]
        for key in superseded:
            del _table_handle.entries[key]
        df = _table_handle(spark, sf_dir, name, stamp)
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
