"""A rewritten table is read fresh by every op, memoized or not.

Many ops ``.cache()`` an intermediate frame outside any session memo.
Nothing unpersists those frames, and Spark's CacheManager matches a
rebuilt plan to the old entry by path, so after a table file is
rewritten the op would answer from the old file's rows. Each case runs
one such op (one per module) against DuckDB on a private copy of the
corpus, rewrites every table to its first half, and runs it again in
the same session, with no ``clearCache()``.
"""

from __future__ import annotations

import os
import shutil

import pytest

from my_polars_ai_spark.operators import all_ops
from my_polars_ai_spark.plans import oracle
from my_polars_ai_spark.sources.tables import TABLES

_OPS = (
    "fuzzy_levenshtein_pairs",
    "neardup_adamic_adar",
    "kneser_ney_bigram_score",
    "dedup_ngram_jaccard",
    "ann_lsh_cosine",
    "impute_mean",
    "ks_test_priority_totals",
)


def _cache_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def _issues(spark, sf: str, name: str) -> list:
    op = all_ops()[name]
    con = oracle.connect(sf)
    try:
        cur = con.execute(op.oracle)
        return oracle.compare(op.fn(spark, sf), cur.fetchall(), [d[0] for d in cur.description])
    finally:
        con.close()


@pytest.mark.parametrize("name", _OPS)
def test_op_reads_a_rewritten_table(spark, sf_dir, tmp_path, name):
    import pyarrow.parquet as pq

    for t in TABLES:
        shutil.copyfile(os.path.join(sf_dir, f"{t}.parquet"), tmp_path / f"{t}.parquet")
    sf = str(tmp_path)

    assert _issues(spark, sf, name) == []
    n_cached = _cache_entries(spark)

    for t in TABLES:
        path = tmp_path / f"{t}.parquet"
        table = pq.read_table(path)
        pq.write_table(table.slice(0, table.num_rows // 2), path)

    assert _issues(spark, sf, name) == []
    assert _cache_entries(spark) <= n_cached
