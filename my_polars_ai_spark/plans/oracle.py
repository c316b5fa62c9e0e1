"""The DuckDB oracle comparison: one definition of "this op is correct".

Every registered op pairs a PySpark plan with ANSI SQL that DuckDB runs
over the same parquet files. ``compare`` checks the two result sets the
way the driver does — column names, per-column value kind, row count and
order-insensitive normalized values — and ``oracle_type_issues`` flags
oracle output types that pandas materializes differently from Spark.

The per-op Tier-1 sweep (``tests/test_registry_sweep.py``) and the
``tools/verify_local.py`` CLI both use these functions. ``duckdb`` is a
``test`` extra, so it is imported inside ``connect`` only.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

from my_polars_ai_spark.sources.tables import TABLES


def connect(sf_dir: str):
    """An in-memory DuckDB connection with one view per corpus table,
    named as the oracle SQL expects."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return float(v)
        return v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _key(row):
    return tuple((str(type(v)), str(v)) for v in row)


def _dtype_kind(values) -> str:
    """Coarse value-type kind per column, mirroring what the driver's
    pandas canonicalizer is sensitive to: a DuckDB HUGEINT/DECIMAL
    column materializes as Python objects while Spark's BIGINT becomes
    int64, and the value-hash then differs even when the numbers agree
    (the round-5 tpch_q20 red). Kinds: int/float/bool/str/date/other."""
    for v in values:
        if v is None:
            continue
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, int):
            return "int"
        if isinstance(v, float):
            return "float"
        if isinstance(v, Decimal):
            return "decimal"
        if isinstance(v, str):
            return "str"
        if isinstance(v, datetime):
            return "datetime"
        if isinstance(v, date):
            return "date"
        return type(v).__name__
    return "all-null"


_PANDAS_HAZARD_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def oracle_type_issues(con, sql: str) -> list[str]:
    """Columns whose DuckDB declared type pandas won't materialize the
    way Spark does: HUGEINT/UHUGEINT → float64 (or object), DECIMAL →
    object — while the Spark twin emits int64/float64, so the driver's
    dtype-sensitive value-hash mismatches even on identical numbers.
    DESCRIBE sees the declared type that fetchall() flattens away."""
    try:
        desc = con.execute(f"DESCRIBE {sql}").fetchall()
    except Exception as e:  # DESCRIBE unsupported for this statement shape
        return [f"DESCRIBE failed ({type(e).__name__}): {str(e)[:120]}"]
    return [
        f"oracle column {col!r} has declared type {typ} — pandas will not "
        "materialize it as the Spark dtype; CAST it in the outermost SELECT"
        for col, typ, *_ in desc
        if any(h in typ.upper() for h in _PANDAS_HAZARD_TYPES)
    ]


def compare(spark_df, oracle_rows, oracle_cols):
    spark_cols = spark_df.columns
    rows = [tuple(r) for r in spark_df.collect()]
    issues = []
    if sorted(spark_cols) != sorted(oracle_cols):
        issues.append(f"columns differ: spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}")
        return issues
    # dtype-kind parity BEFORE value normalization: the driver hashes
    # pandas-canonicalized frames, which distinguish int64 from object
    # columns even when the values are numerically identical
    for c in sorted(spark_cols):
        si, oi = spark_cols.index(c), oracle_cols.index(c)
        sk = _dtype_kind(r[si] for r in rows)
        ok = _dtype_kind(r[oi] for r in oracle_rows)
        if "all-null" in (sk, ok):
            continue
        if sk != ok:
            issues.append(
                f"dtype kind differs on {c!r}: spark={sk} oracle={ok} "
                "(driver value-hash is dtype-sensitive — CAST the oracle side)"
            )
    if len(rows) != len(oracle_rows):
        issues.append(f"row count differs: spark={len(rows)} oracle={len(oracle_rows)}")
    # align column order by name
    s_idx = [spark_cols.index(c) for c in sorted(spark_cols)]
    o_idx = [oracle_cols.index(c) for c in sorted(oracle_cols)]
    s_rows = sorted((_key([_norm(r[i]) for i in s_idx]) for r in rows))
    o_rows = sorted((_key([_norm(r[i]) for i in o_idx]) for r in oracle_rows))
    if s_rows != o_rows:
        # hoist the sets — rebuilding them inside the comprehension is
        # O(n^2) and looked like a hang at 100k differing rows
        o_set, s_set = set(o_rows), set(s_rows)
        diff_s = [r for r in s_rows if r not in o_set][:3]
        diff_o = [r for r in o_rows if r not in s_set][:3]
        issues.append(f"values differ; spark-only sample={diff_s} oracle-only sample={diff_o}")
    return issues
