"""Plan-shape pins for the round-16 optimization rewrites.

Each test asserts the STRUCTURAL property the optimization bought —
single decode chain, census-without-join, codes decoded from the
manifest — so a regression that quietly re-introduces the second
corpus pass fails loudly. (Structural assertions against Spark's plan rendering; refresh
on a Spark upgrade, keep the counts.)
"""

from __future__ import annotations

from my_polars_ai_spark.operators import all_ops


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_audio_chunker_has_single_decode_chain_and_no_join(spark, sf_dir):
    """audio_vad_chunks derives chunk energy in the same pass that
    forms the islands: exactly ONE synth+decode mapInPandas chain
    (2 MapInPandas nodes), zero joins — the r16 rewrite removed the
    second decode + bounds join."""
    plan = _executed(all_ops()["audio_vad_chunks"].fn(spark, sf_dir))
    assert plan.count("MapInPandas") == 2, plan
    assert "Join" not in plan, plan


def test_span_census_is_window_not_join(spark, sf_dir):
    """repeated_span_stats / repeated_span_excision / ngram_novelty:
    the corpus-wide gram census rides a window over the single gh
    exchange — the md5 gram explode appears ONCE and no census join
    remains (excision keeps only its final per-doc spans LEFT join)."""
    ops = all_ops()
    for name, n_joins in (
        ("repeated_span_stats", 0),
        ("ngram_novelty_score", 0),
        ("repeated_span_excision", 1),
    ):
        plan = _executed(ops[name].fn(spark, sf_dir))
        assert plan.count("Generate") == 1, (name, plan)
        joins = sum(plan.count(j) for j in
                    ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
        assert joins == n_joins, (name, plan)


def test_trained_weight_table_is_cached_and_memo_stable(spark, sf_dir):
    """qgd_train_artifacts caches the 32-row weight table so consumer
    actions broadcast from cache instead of re-running the GD chain;
    the memo hands back the SAME frame (and re-arms its cache mark
    after an external clearCache)."""
    from my_polars_ai_spark.operators.classic_ml import qgd_train_artifacts

    _, _, w1 = qgd_train_artifacts(spark, sf_dir)
    lvl = w1.storageLevel
    assert lvl.useMemory or lvl.useDisk, lvl
    _, _, w2 = qgd_train_artifacts(spark, sf_dir)
    assert w1 is w2
    spark.catalog.clearCache()
    _, _, w3 = qgd_train_artifacts(spark, sf_dir)
    lvl = w3.storageLevel
    assert lvl.useMemory or lvl.useDisk, lvl


def test_pq_adc_decodes_codes_from_manifest(spark, sf_dir):
    """pq_adc_topk reads its corpus code table from the cached
    manifest's packed pq_codes (the serve op's posexplode(split(...))
    shape) instead of re-running the cdist argmin chain per action:
    decoded codes match _pq_codes(cdist) row-for-row."""
    from my_polars_ai_spark.operators.similarity import (
        _ann_index_frames,
        _pq_codes,
    )
    from pyspark.sql import functions as F

    manifest, _, _, _, cdist = _ann_index_frames(spark, sf_dir)
    decoded = (
        manifest.select(
            "vec_id", F.posexplode(F.split("pq_codes", ",")).alias("m", "k_str")
        )
        .select("vec_id", "m", F.col("k_str").cast("int").alias("k"))
    )
    direct = _pq_codes(cdist).select(
        "vec_id", F.col("m").cast("int").alias("m"), F.col("k").cast("int").alias("k")
    )
    assert decoded.exceptAll(direct).count() == 0
    assert direct.exceptAll(decoded).count() == 0
