"""Plan inspection helpers — the feedback loop for the 100 TB discipline.

After an operator is correct, its plan is audited here: are filters and
projected columns pushed into the parquet scan (PushedFilters/ReadSchema)?
Did the dim join broadcast? How many shuffles (Exchange) does the plan
carry, and are they all load-bearing? bench.py measures time; these
helpers explain it.
"""

from __future__ import annotations

import re
from io import StringIO

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """df.explain(...) captured as a string."""
    import contextlib

    buf = StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def plan_summary(df: DataFrame) -> dict[str, object]:
    """Structural summary of the physical plan: operator counts that matter
    at scale (shuffles, broadcasts, scans with/without pushdown, codegen
    coverage, Python evals). Uses simple mode so each operator is counted
    once (formatted mode prints tree + details, double-counting)."""
    text = explain_str(df, mode="simple")
    return {
        "exchanges": len(re.findall(r"\bExchange hashpartitioning|\bExchange rangepartitioning|\bExchange SinglePartition", text)),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", text)),
        "sortmerge_joins": len(re.findall(r"SortMergeJoin", text)),
        "shuffled_hash_joins": len(re.findall(r"ShuffledHashJoin", text)),
        "nested_loop_joins": len(re.findall(r"BroadcastNestedLoopJoin|CartesianProduct", text)),
        "scans": len(re.findall(r"Scan parquet", text)),
        "pushed_filters": len(re.findall(r"PushedFilters: \[[^\]]", text)),
        "python_evals": len(re.findall(r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|MapInPandas", text)),
        "wholestage_codegen": len(re.findall(r"WholeStageCodegen", text)),
        "take_ordered": len(re.findall(r"TakeOrderedAndProject", text)),
    }


def pushed_filters(df: DataFrame) -> list[str]:
    """The PushedFilters lists of every parquet scan in the plan."""
    return re.findall(r"PushedFilters: (\[[^\]]*\])", explain_str(df))


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every parquet scan — verifies column pruning."""
    return re.findall(r"ReadSchema: (struct<[^>]*>)", explain_str(df))


def plan_children(node) -> list:
    """Children of a JVM physical plan node, looking through adaptive
    plans and query stages. An InMemoryTableScan is a leaf: the cached
    relation's own plan is not its child."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]
