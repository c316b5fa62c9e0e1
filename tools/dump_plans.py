"""Normalized physical plans of registry ops, and the diff of two dumps.

Usage: PYTHONPATH=. python tools/dump_plans.py [--vanilla] <sf_dir> <out.json | -> [op ...]
       python tools/dump_plans.py --diff <a.json> <b.json>

The dump builds every op, or only the ops named, each after
``clearCache()``: ``df.explain("simple")``, the physical plan before
execution, with the per-run names stripped (expression ids,
``plan_id=``, ``mem_<hex>`` sinks, lambda-variable suffixes) and
metadata strings printed in full. It writes
``{op: plan}`` to one JSON file, or with ``-`` prints each plan under
its joins and exchange count. The session is ``get_spark``'s
(``SPARK_GRAFT_CPUS`` cores), or with ``--vanilla`` a bare
``SparkSession.builder`` on as many cores, like the driver harness's.

The diff prints each op whose plan differs, with its joins (strategy
and build side) and its shuffle-exchange count in each dump.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RUN_NAMES = [(r"#\d+L?", ""), (r"plan_id=\d+", "plan_id="), (r"mem_[0-9a-f]+", "mem_"), (r"(lambda \w+?)_\d+", r"\1")]
JOINS = r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct"


def shape(plan: str) -> str:
    joins = [j + (f"/{side}" if side else "") for j, side in re.findall(rf"({JOINS})\b(?:.*?(Build(?:Left|Right)))?", plan)]
    exchanges = len(re.findall(r"\bExchange\b", plan))
    return f"{joins} exchanges={exchanges}"


def dump(sf_dir: str, out: str, names: list[str], vanilla: bool) -> None:
    from pyspark.sql import SparkSession

    from my_polars_ai_spark.operators import all_ops
    from my_polars_ai_spark.plans.inspect import explain_str
    from my_polars_ai_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = SparkSession.builder.master(f"local[{cpus}]").getOrCreate() if vanilla else get_spark("dump_plans")
    # uncut FileScan DataFilters: a cut falls wherever the lambda-variable counter has got to
    spark.conf.set("spark.sql.maxMetadataStringLength", str(1 << 20))
    ops = all_ops()
    plans = {}
    for name in names or sorted(ops):
        spark.catalog.clearCache()
        try:
            plan = explain_str(ops[name].fn(spark, sf_dir), mode="simple")
        except Exception as e:  # a failing build is a difference too
            plan = f"ERROR: {type(e).__name__}: {e}"
        for pattern, repl in RUN_NAMES:
            plan = re.sub(pattern, repl, plan)
        plans[name] = plan
        if out == "-":
            print(f"== {name}: {shape(plan)}\n{plan}")
    if out != "-":
        with open(out, "w") as fh:
            json.dump(plans, fh, indent=0, sort_keys=True)
        print(f"{len(plans)} plans -> {out}")
    spark.stop()


def diff(a_path: str, b_path: str) -> int:
    a, b = (json.load(open(p)) for p in (a_path, b_path))
    changed = sorted(n for n in a.keys() | b.keys() if a.get(n) != b.get(n))
    for name in changed:
        sa, sb = (shape(d[name]) if name in d else "missing" for d in (a, b))
        print(f"{name}: {sa}" + (" (same joins and exchanges)" if sa == sb else f" -> {sb}"))
    print(f"{len(changed)} of {len(a.keys() | b.keys())} plans differ")
    return 1 if changed else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    if args[:1] == ["--diff"]:
        sys.exit(diff(*args[1:3]))
    vanilla = args[:1] == ["--vanilla"]
    dump(args[vanilla], args[vanilla + 1], args[vanilla + 2 :], vanilla)
