"""Paired A/B timing of registry ops: does a special case earn its code?

Usage: PYTHONPATH=. python tools/time_op.py <op> [<op> ...] [--pairs N]
           [--drop-hint FILE:LINE] [--no-spread]

Side A is the code as it stands. Side B turns the ``F.broadcast`` call
at FILE:LINE (``operators/similarity.py:835``) into its argument and/or
reads ``load_table(spread=True)`` as ``spread=False``; with neither it
is an A/A control. Each side keeps its own session memos. Per op: two
warm-ups per side, then N (10) alternating pairs of build + noop write.
Prints each side's median [quartiles], the pairs B won, the jobs, run
stages and shuffle-read bytes of its run in the first pair, and the
exchanges and lint kinds of a build after ``clearCache()``. The session is ``get_spark``'s on
``SPARK_GRAFT_SF_DIR`` (``/root/testdata/sf0.1``).
"""

from __future__ import annotations

import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]


def main(argv: list[str]) -> int:
    opts = {a: argv[i + 1] for i, a in enumerate(argv) if a in ("--pairs", "--drop-hint")}
    names = [a for a in argv if not a.startswith("--") and a not in opts.values()]
    from pyspark.sql import functions as F
    from spans import SparkCounters

    from my_polars_ai_spark.operators import all_ops, base
    from my_polars_ai_spark.plans.guardrails import lint_plan
    from my_polars_ai_spark.plans.inspect import explain_str
    from my_polars_ai_spark.plans.lint_allowlist import kind_of
    from my_polars_ai_spark.session import get_spark
    from my_polars_ai_spark.sources import tables

    side, dropped, hint, probe = "A", [], F.broadcast, tables.scan_partitions
    path, _, line = opts.get("--drop-hint", ":").partition(":")

    def broadcast(df):
        caller = sys._getframe(1)
        drop = side == "B" and line and caller.f_code.co_filename.endswith(path) and caller.f_lineno == int(line)
        dropped.append(drop)
        return df if drop else hint(df)

    F.broadcast = broadcast
    if "--no-spread" in argv:
        tables.scan_partitions = lambda df: None if side == "B" else probe(df)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("time_op")
    counters = SparkCounters(spark)
    ops = all_ops()
    memos = [m for m in base.SESSION_MEMOS if m is not tables._table_handle]
    stores = {"A": [{} for _ in memos], "B": [{} for _ in memos]}
    for name in names:
        spark.catalog.clearCache()

        def use(s: str) -> None:
            nonlocal side
            for m, held, wanted in zip(memos, stores[side], stores[s]):
                held.clear(), held.update(m.entries), m.entries.clear(), m.entries.update(wanted)
            side = s

        def run(s: str, tag: str) -> float:
            use(s)
            spark.sparkContext.setJobGroup(f"{name} {s} {tag}", tag)
            t0 = time.perf_counter()
            ops[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        for i in range(4):
            run("AB"[i % 2], "warm")
        n = int(opts.get("--pairs", 10))
        t = {"A": [], "B": []}
        for i in range(n):
            for s in ("AB", "BA")[i % 2]:
                t[s].append(run(s, str(i)))
            if i == 0:  # read before later runs evict its stages from the status store
                counters.drain()
                c = {s: counters.jobs([f"{name} {s} 0"]) for s in "AB"}
        won = sum(b < a for a, b in zip(t["A"], t["B"]))
        out = [f"{name}: B won {won}/{n}"]
        for s in "AB":
            q1, med, q3 = statistics.quantiles(t[s], n=4)
            spark.catalog.clearCache()
            use(s)
            df = ops[name].fn(spark, sf_dir)
            kinds = sorted({kind_of(w) for w in lint_plan(df)})
            out.append(
                f"  {s}: median {med:.3f} [{q1:.3f}-{q3:.3f}] s, jobs {c[s]['jobs']:.0f}, "
                f"stages {c[s]['stages']:.0f}, shuffle read {c[s]['shuffle_read_bytes']:.0f} B, "
                f"exchanges {explain_str(df, 'simple').count(' Exchange ')}, lint {kinds}"
            )
        print("\n".join(out + ["  --drop-hint matched no call"] * (bool(line) and not any(dropped))), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
