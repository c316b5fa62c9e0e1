"""Round-13 hardening of the ANN build/serve lifecycle (the r12-verdict
ask): the index frames are session-memoized with cached vec-grain
manifest (so serve no longer re-executes the build in-plan), the memo
self-heals after clearCache, and — the production contract — the serve
plan produces identical results when it reads the manifest BACK from a
parquet write partitioned by (shard, cell)."""

from __future__ import annotations


def test_ann_frames_memoized_and_rearm_after_clearcache(spark, sf_dir):
    """The build op serves the memoized manifest: after an external
    clearCache, calling it re-arms the manifest's cache mark and
    returns the memo's rows (the memo contract itself is checked for
    every memo in test_memo_rearm.py). ncorpus is re-armed before the
    manifest, so the manifest's re-registered plan reads the ncorpus
    cache instead of recomputing its lineage."""
    from my_polars_ai_spark.operators import all_ops, similarity
    from my_polars_ai_spark.plans.inspect import plan_children

    m1, _, _, ncorpus, _ = similarity._ann_index_frames(spark, sf_dir)
    n1 = m1.count()
    spark.catalog.clearCache()

    n = all_ops()["ann_index_manifest"].fn(spark, sf_dir).count()
    assert m1.storageLevel.useMemory or m1.storageLevel.useDisk
    assert n == n1

    cm = spark._jsparkSession.sharedState().cacheManager()

    def cache_builder(df):
        return cm.lookupCachedData(df._jdf).get().cachedRepresentation().cacheBuilder()

    ncorpus_builder = cache_builder(ncorpus)
    stack, reads_ncorpus = [cache_builder(m1).cachedPlan()], False
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "InMemoryTableScanExec":
            reads_ncorpus |= node.relation().cacheBuilder().equals(ncorpus_builder)
        stack.extend(plan_children(node))
    assert reads_ncorpus


def test_ann_serve_round_trips_through_written_manifest(spark, sf_dir, tmp_path):
    """write manifest -> read -> serve == in-session serve. This is the
    100 TB path: production serving reads the written index, never the
    in-session build lineage; the (shard, cell) partitioning makes
    IVF probing literal partition pruning on the read side."""
    from my_polars_ai_spark.operators import all_ops
    from my_polars_ai_spark.operators.similarity import _ann_serve_topk

    ops = all_ops()
    manifest = ops["ann_index_manifest"].fn(spark, sf_dir)
    path = str(tmp_path / "ann_manifest")
    manifest.write.partitionBy("shard", "cell").parquet(path)

    read_back = spark.read.parquet(path)
    # partition columns come back as the trailing columns; the serve
    # plan selects by name so ordering must not matter — but the cell
    # partition value must round-trip as the same integer
    assert set(read_back.columns) == set(manifest.columns)

    served_rt = sorted(
        map(tuple, _ann_serve_topk(spark, sf_dir, read_back).collect())
    )
    served_mem = sorted(
        map(tuple, ops["ann_manifest_query_topk"].fn(spark, sf_dir).collect())
    )
    assert served_rt == served_mem
    assert served_mem, "serve must return rows at sf0.001"


def test_ann_serve_plan_reads_cached_manifest_not_rebuild(spark, sf_dir):
    """The r12 verdict's 'weak' finding, pinned closed: after the build
    op materializes the manifest once, the SERVE op's physical plan
    must read it from the cache (InMemoryTableScan) rather than
    re-executing the index build lineage (whose signature is the
    posexplode PQ-encoding fan-out feeding an aggregate)."""
    from my_polars_ai_spark.operators import all_ops

    ops = all_ops()
    ops["ann_index_manifest"].fn(spark, sf_dir).count()  # fill the cache
    plan = ops["ann_manifest_query_topk"].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan


def test_ship_step_manifests_round_trip_through_parquet(spark, sf_dir, tmp_path):
    """Every ship-step manifest is a table another system READS — at
    100 TB the parquet file, not the in-session DataFrame, is the
    contract. Pin that write -> read is lossless for the export
    manifests: identical schema (field names + types) and identical
    rows. Catches the classic hazards (decimal precision narrowing,
    timestamp unit drift, nullability-dependent encodings) before a
    consumer does."""
    from my_polars_ai_spark.operators import all_ops

    ops = all_ops()
    for name in (
        "triplet_export_manifest",
        "audio_chunk_export_manifest",
        "doremi_sampling_manifest",
        "curation_attributes_manifest",
        "decontaminated_manifest",
        "training_manifest",
        "ann_index_manifest",
        # r14 ship steps
        "qgd_weights_manifest",
        "int8_vector_export_manifest",
    ):
        df = ops[name].fn(spark, sf_dir)
        path = str(tmp_path / name)
        df.write.parquet(path)
        back = spark.read.parquet(path)
        assert [(f.name, f.dataType) for f in back.schema.fields] == [
            (f.name, f.dataType) for f in df.schema.fields
        ], name
        a = sorted(map(tuple, df.collect()))
        b = sorted(map(tuple, back.collect()))
        assert a == b, name
        assert a, f"{name} must produce rows at sf0.001"
