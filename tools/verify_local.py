"""Local mirror of the driver's correctness gate.

Runs every registered op's Spark query and DuckDB oracle at a small SF and
compares row-count + column names + sorted row values. Use while
iterating; the driver does the authoritative run at sf0.01.

Usage: python tools/verify_local.py [--vanilla] [--window] [sf_dir] [op_name ...]

``--vanilla`` runs under a bare ``SparkSession.builder`` session — the
driver harness supplies its own vanilla session, so correctness must
not depend on get_spark's confs (UTC timezone and the events-nanos
handling live inside load_table; this flag proves it per-op).

``--window`` restricts the run to the driver's 50-op CORRECTNESS
prefix (the live _PRIORITY window). Combine both before merging a change:
``--vanilla --window /root/testdata/sf0.01`` is the closest local
mirror of what the driver will actually execute.
"""

from __future__ import annotations

import math
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb


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


def main():
    args = sys.argv[1:]
    vanilla = window = False
    while args and args[0] in ("--vanilla", "--window"):
        if args[0] == "--vanilla":
            vanilla = True
        else:
            window = True
        args = args[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    from my_polars_ai_spark.operators import all_ops

    if window:
        only |= set(list(all_ops())[:50])

    if vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        from my_polars_ai_spark.session import get_spark

        spark = get_spark("verify_local", shuffle_partitions=8)
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    ops = all_ops()
    n_pass = n_fail = n_rows_only = 0
    for name, op_ in sorted(ops.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = op_.fn(spark, sf_dir)
            if op_.oracle is None:
                cnt = df.count()
                dt = time.time() - t0
                print(f"  ~ {name}: rows-only, {cnt} rows  [{dt:.1f}s]")
                n_rows_only += 1
                continue
            cur = con.execute(op_.oracle)
            o_cols = [d[0] for d in cur.description]
            o_rows = cur.fetchall()
            issues = compare(df, o_rows, o_cols)
            # Oracle-side declared-type gate: fetchall() flattens DuckDB
            # HUGEINT to plain Python int (indistinguishable from BIGINT),
            # but the driver materializes the oracle via pandas where
            # HUGEINT/DECIMAL become float64/object while Spark emits
            # int64 — the round-5 q20 / round-6 q18 red. DESCRIBE sees
            # the declared type before any flattening.
            issues.extend(oracle_type_issues(con, op_.oracle))
            dt = time.time() - t0
            if issues:
                n_fail += 1
                print(f"  ✗ {name}  [{dt:.1f}s]")
                for i in issues:
                    print(f"      {i}")
            else:
                n_pass += 1
                print(f"  ✓ {name} ({len(o_rows)} rows)  [{dt:.1f}s]")
        except Exception as e:
            n_fail += 1
            print(f"  ✗ {name}: EXC {type(e).__name__}: {str(e)[:300]}")
        finally:
            # a few ops cache() diamond subtrees by design and return a
            # lazy frame, so nothing ever unpersists them; in a 360-op
            # sweep those pins would accumulate until LRU churn — drop
            # them between ops (review finding)
            spark.catalog.clearCache()
    print(f"\npass={n_pass} fail={n_fail} rows_only={n_rows_only}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
