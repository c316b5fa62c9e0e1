"""Local mirror of the driver's correctness gate.

Runs every registered op's Spark query and DuckDB oracle at a small SF and
compares row-count + column names + sorted row values with
``my_polars_ai_spark.plans.oracle`` — the same check Tier-1 runs per op
in ``tests/test_registry_sweep.py``. Use this CLI for the driver's
mirrors (``--vanilla``, ``--window``) and for other scale factors; the
driver does the authoritative run at sf0.01.

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

import sys
import time

# compare stays importable from here: perfbench/opsload.py does
# ``from verify_local import compare``.
from my_polars_ai_spark.plans.oracle import compare, connect, oracle_type_issues


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
    con = connect(sf_dir)

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
