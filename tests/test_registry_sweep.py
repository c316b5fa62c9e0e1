"""One sweep over the operator registry: each op is built once, from a
cold cache, and that one build is checked for everything the registry
promises about it.

1. **Lint attribution.** The set of ``lint_plan`` warning kinds equals
   the op's entries in ``plans/lint_allowlist.py``. A kind with no entry
   is an unattributed scale hazard; an entry with no warning is a stale
   justification. The plan is linted before any action runs, because
   AQE's final plan differs once the frame has executed, and after
   ``clearCache()``, because cache entries left by earlier ops replace
   plan subtrees with ``InMemoryTableScan`` and change the join
   strategies the linter sees.
2. **Canonicalizer-safe schema.** The driver canonicalizes oracle-checked
   results with pandas (``sort_values`` over every column), which cannot
   hash list/map/struct values, so those ops emit no Array/Map/Struct
   top-level column.
3. **Oracle equality.** The output equals the op's DuckDB oracle under
   ``plans.oracle.compare``, and the oracle declares no output type
   (HUGEINT, DECIMAL) that pandas materializes differently from Spark.
   The few ops with no oracle get the driver's rows-only check: the
   frame must run.

Test ids are op names: ``pytest tests/test_registry_sweep.py -k <op>``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from my_polars_ai_spark.operators import all_ops
from my_polars_ai_spark.plans import oracle
from my_polars_ai_spark.plans.guardrails import lint_plan
from my_polars_ai_spark.plans.lint_allowlist import ALLOWLIST, kind_of

_OPS = all_ops()
_UNHASHABLE = (T.ArrayType, T.MapType, T.StructType)


@pytest.fixture(scope="module")
def con(sf_dir):
    con = oracle.connect(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(_OPS))
def test_op(name, spark, sf_dir, con):
    op = _OPS[name]
    spark.catalog.clearCache()
    df = op.fn(spark, sf_dir)

    fired = {kind_of(w) for w in lint_plan(df)}
    allowed = {k for (n, k) in ALLOWLIST if n == name}
    assert fired == allowed, (
        f"unattributed lint kinds {sorted(fired - allowed)} (justify them in "
        f"plans/lint_allowlist.py); stale allowlist kinds "
        f"{sorted(allowed - fired)} (prune them)"
    )

    if op.oracle is None:
        df.count()
        return
    unhashable = [
        f.name for f in df.schema.fields if isinstance(f.dataType, _UNHASHABLE)
    ]
    assert not unhashable, (
        f"list/map/struct columns the driver's pandas canonicalizer cannot "
        f"hash — array_join them: {unhashable}"
    )
    cur = con.execute(op.oracle)
    issues = oracle.compare(df, cur.fetchall(), [d[0] for d in cur.description])
    issues += oracle.oracle_type_issues(con, op.oracle)
    assert not issues, issues
