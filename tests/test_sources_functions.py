"""Sinks, pandas fallbacks, and reader edge cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from my_polars_ai_spark.functions.pandas_fallbacks import asof_join_pandas
from my_polars_ai_spark.sources.readers import from_json, from_records
from my_polars_ai_spark.sources.writers import write_csv, write_parquet


def test_write_parquet_partitioned_roundtrip(spark, tmp_path):
    df = from_records(spark, {"k": ["a", "a", "b"], "v": [1, 2, 3]})
    out = str(tmp_path / "t")
    write_parquet(df, out, partition_by=["k"])
    back = spark.read.parquet(out)
    assert back.count() == 3
    assert {r.v for r in back.filter(F.col("k") == "a").collect()} == {1, 2}


def test_write_csv_roundtrip(spark, tmp_path):
    df = from_records(spark, {"x": [1, 2], "y": ["p", "q"]})
    out = str(tmp_path / "c")
    write_csv(df, out)
    back = spark.read.option("header", True).option("inferSchema", True).csv(out)
    assert sorted(map(tuple, back.collect())) == [(1, "p"), (2, "q")]


def test_from_json_roundtrip(spark, tmp_path):
    p = tmp_path / "j.json"
    p.write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n')
    df = from_json(spark, str(p))
    assert df.count() == 2 and set(df.columns) == {"a", "b"}


def test_asof_join_pandas_matches_union_trick(spark):
    from my_polars_ai_spark.operators.asof import asof_join_backward

    quotes = from_records(
        spark,
        [
            {"k": "a", "t": 1, "q": 10.0},
            {"k": "a", "t": 5, "q": 20.0},
            {"k": "b", "t": 3, "q": 99.0},
        ],
    )
    trades = from_records(
        spark, [{"k": "a", "t": 2}, {"k": "a", "t": 6}, {"k": "b", "t": 2}]
    )
    via_pandas = asof_join_pandas(
        trades.select("k", "t"), quotes.select("k", "t", "q"), on="t", by="k", value_cols=["q"]
    )
    via_union = asof_join_backward(
        trades.select("k", "t"), quotes.select("k", "t", "q"), on="t", by="k", value_cols=["q"]
    )
    p = {(r.k, r.t): r.q for r in via_pandas.collect()}
    u = {(r.k, r.t): r.q for r in via_union.collect()}
    assert p == u == {("a", 2): 10.0, ("a", 6): 20.0, ("b", 2): None}


def test_from_excel_raises_cleanly_on_garbage(spark, tmp_path):
    """A non-xlsx payload must fail with a clear error, never a silent
    wrong result (zipfile.BadZipFile for the stdlib fallback; pandas may
    raise ImportError/ValueError first when present)."""
    import zipfile

    from my_polars_ai_spark.sources.readers import from_excel

    (tmp_path / "x.xlsx").write_bytes(b"not a real xlsx")
    with pytest.raises((ImportError, FileNotFoundError, ValueError, zipfile.BadZipFile)):
        from_excel(spark, str(tmp_path / "x.xlsx"))


def test_from_excel_happy_path_via_stdlib_fallback(spark, tmp_path):
    """Real-data Excel ingestion without openpyxl: write a minimal OOXML
    workbook with the stdlib writer, read it back as a Spark DataFrame."""
    from my_polars_ai_spark.sources.readers import from_excel
    from my_polars_ai_spark.sources.xlsx import read_xlsx, write_xlsx

    p = str(tmp_path / "book.xlsx")
    write_xlsx(
        p,
        ["name", "qty", "price", "active"],
        [["widget", 3, 1.5, True], ["gadget <&> 'x'", 10, 2.25, False]],
    )
    header, rows = read_xlsx(p)
    assert header == ["name", "qty", "price", "active"]
    assert rows[1][0] == "gadget <&> 'x'"  # XML escaping round-trips

    df = from_excel(spark, p)
    assert df.columns == ["name", "qty", "price", "active"]
    got = {r.name: (r.qty, r.price, r.active) for r in df.collect()}
    assert got["widget"] == (3, 1.5, True)


def test_from_ipc_roundtrip(spark, tmp_path):
    """Arrow IPC ingestion: both the file (Feather v2) and stream layouts."""
    import pyarrow as pa
    import pyarrow.ipc as ipc

    from my_polars_ai_spark.sources.readers import from_ipc

    table = pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]})
    fpath, spath = str(tmp_path / "t.arrow"), str(tmp_path / "t.arrows")
    with ipc.new_file(fpath, table.schema) as w:
        w.write_table(table)
    with ipc.new_stream(spath, table.schema) as w:
        w.write_table(table)
    for p in (fpath, spath):
        df = from_ipc(spark, p)
        assert df.columns == ["k", "v"]
        assert sorted((r.k, r.v) for r in df.collect()) == [(1, "a"), (2, "b"), (3, "c")]


def test_bucketed_tables_join_without_shuffle(spark):
    """Two tables bucketed by the same key into the same bucket count must
    join with ZERO Exchange operators — the co-located layout that makes
    recurring fact-fact joins shuffle-free at 100 TB."""
    from my_polars_ai_spark.plans.inspect import explain_str
    from my_polars_ai_spark.sources.writers import write_bucketed

    a = spark.range(0, 5000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 5000).selectExpr("id AS k", "id * 3 AS vb")
    try:
        write_bucketed(a, "bkt_a", ["k"], 4, sort_by=["k"])
        write_bucketed(b, "bkt_b", ["k"], 4, sort_by=["k"])
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
            plan = explain_str(j, mode="simple")
            assert plan.count("Exchange") == 0, plan
            assert "SortMergeJoin" in plan
            assert j.count() == 5000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_orc_roundtrip(spark, tmp_path):
    from my_polars_ai_spark.sources.readers import from_orc
    from my_polars_ai_spark.sources.writers import write_orc

    df = from_records(spark, {"k": ["x", "y"], "v": [1, 2]})
    out = str(tmp_path / "o")
    write_orc(df, out)
    assert sorted(map(tuple, from_orc(spark, out).collect())) == [("x", 1), ("y", 2)]


def test_from_binary_files(spark, tmp_path):
    from my_polars_ai_spark.sources.readers import from_binary_files

    (tmp_path / "a.bin").write_bytes(b"\x00\x01\x02payload-a")
    (tmp_path / "b.bin").write_bytes(b"payload-b")
    (tmp_path / "skip.txt").write_bytes(b"nope")
    df = from_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = {r.path.rsplit("/", 1)[-1]: (r.length, bytes(r.content)) for r in df.collect()}
    assert set(rows) == {"a.bin", "b.bin"}
    assert rows["a.bin"] == (12, b"\x00\x01\x02payload-a")
    assert dict(df.dtypes)["content"] == "binary"


def test_python_datasource_partitions_and_rows(spark):
    """The custom DataSource must honor partitions() (one task per slice)
    and generate rows identical to the driver-side formula."""
    from my_polars_ai_spark.sources.python_datasource import (
        register_synth_source,
        synth_row,
    )

    register_synth_source(spark)
    df = spark.read.format("synth").option("rows", 40).option("slices", 4).load()
    assert df.rdd.getNumPartitions() == 4
    got = sorted(tuple(r) for r in df.collect())
    assert got == [synth_row(i) for i in range(40)]


def test_python_datasource_arrow_batch_path(spark):
    """The Arrow read path (one RecordBatch per slice) must produce the
    identical rows as the tuple path."""
    from my_polars_ai_spark.sources.python_datasource import (
        register_synth_source,
        synth_row,
    )

    register_synth_source(spark)
    df = (
        spark.read.format("synth")
        .option("rows", 40)
        .option("slices", 4)
        .option("arrow", "true")
        .load()
    )
    assert sorted(tuple(r) for r in df.collect()) == [synth_row(i) for i in range(40)]


def test_jsonl_sink_two_phase_commit(spark, tmp_path):
    """Python DataSource WRITER: per-task part files + driver-side
    manifest commit; reading the parts back recovers the rows."""
    import json

    from my_polars_ai_spark.sources.python_datasource import register_jsonl_sink

    register_jsonl_sink(spark)
    df = spark.range(0, 100, 1, 4).selectExpr("id", "id * 2 AS doubled")
    out = str(tmp_path / "sink")
    df.write.format("jsonl_sink").option("path", out).mode("append").save()

    manifest = json.load(open(f"{out}/_MANIFEST.json"))
    assert manifest["n_rows"] == 100
    assert len(manifest["parts"]) == 4
    assert sum(p["n_rows"] for p in manifest["parts"]) == 100

    back = spark.read.json(f"{out}/part-*.jsonl")
    assert back.count() == 100
    assert back.selectExpr("sum(doubled)").collect()[0][0] == 9900

    # two-phase contract: no temp files survive a successful commit
    import os
    assert not [f for f in os.listdir(out) if f.startswith(".tmp-part-")]


def test_schema_evolution_merge_on_read(spark, tmp_path):
    """mergeSchema read across two parquet generations: new column is
    NULL for old files, old rows still scan — the additive-evolution
    contract a long-lived 100 TB table depends on."""
    v1 = str(tmp_path / "t" / "v1")
    v2 = str(tmp_path / "t" / "v2")
    spark.createDataFrame([(1, "a")], "id bigint, name string").write.parquet(v1)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id bigint, name string, score double"
    ).write.parquet(v2)

    merged = spark.read.option("mergeSchema", "true").parquet(v1, v2)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: (r.name, r.score) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_observe_metrics_capture_row_counts(spark, sf_dir):
    """df.observe: inline observable metrics ride the job (no second
    pass) — the production pattern for row-count/invariant telemetry."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from my_polars_ai_spark.sources.tables import load_table

    obs = Observation("events_metrics")
    e = load_table(spark, sf_dir, "events").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value") <= 0, 1).otherwise(0)).alias("n_nonpositive"),
    )
    n = e.filter(F.col("event_type") == "view").count()
    got = obs.get
    assert got["n_rows"] > n > 0          # metrics observed the FULL scan
    assert got["n_nonpositive"] == 0


def test_pandas_on_spark_interop(spark, sf_dir):
    """pandas-on-Spark (pyspark.pandas): the dataframe-library UX the
    reference's users expect, running on the same engine — groupby
    result must match the SQL aggregation."""
    import warnings

    import pyspark.pandas as ps

    from my_polars_ai_spark.sources.tables import load_table

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        e = load_table(spark, sf_dir, "events")
        psdf = e.select("event_type", "value").pandas_api()
        got = psdf.groupby("event_type")["value"].count().to_dict()

    want = {r.event_type: r.n for r in
            e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want and len(want) > 0


def test_load_table_spread_skips_repartition_without_rdd_api(spark, sf_dir, monkeypatch):
    """Spark Connect has no RDD API, so the scan-split probe gives None:
    ``load_table(spread=True)`` then returns the scan as read. With the
    RDD API, the single-file fixture is spread to defaultParallelism."""
    from pyspark.errors import PySparkNotImplementedError

    from my_polars_ai_spark.sources.tables import load_table, scan_partitions

    def logical_plan(df):
        return df._jdf.queryExecution().logical().toString()

    spread = load_table(spark, sf_dir, "documents", spread=True)
    assert "Repartition" in logical_plan(spread)
    assert scan_partitions(spread) == spark.sparkContext.defaultParallelism

    def no_rdd(self):
        raise PySparkNotImplementedError(
            errorClass="NOT_IMPLEMENTED", messageParameters={"feature": "rdd"}
        )

    monkeypatch.setattr(type(spread), "rdd", property(no_rdd))
    read = load_table(spark, sf_dir, "documents", spread=True)
    assert scan_partitions(read) is None
    assert "Repartition" not in logical_plan(read)


def test_load_table_reuses_one_handle_per_session(spark, tmp_path, jobs_started):
    """An unchanged table is read once per session: the second call
    returns the same DataFrame and starts no listing or schema job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from my_polars_ai_spark.sources.tables import load_table

    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), str(tmp_path / "region.parquet"))
    handles = []
    assert jobs_started(lambda: handles.append(load_table(spark, str(tmp_path), "region"))) >= 1
    assert jobs_started(lambda: handles.append(load_table(spark, str(tmp_path), "region"))) == 0
    assert handles[1] is handles[0]


def test_load_table_rereads_a_rewritten_or_extended_table(spark, tmp_path):
    """The handle is checked against the file stamp: an overwritten file
    and a directory table with a new part file each get a fresh read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from my_polars_ai_spark.sources.tables import _table_handle, load_table

    sf = str(tmp_path)
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), str(path))
    assert load_table(spark, sf, "region").count() == 2
    pq.write_table(pa.table({"r_regionkey": [5, 6, 7]}), str(path))
    got = load_table(spark, sf, "region")
    assert sorted(r.r_regionkey for r in got.collect()) == [5, 6, 7]
    # the superseded handle is dropped, not kept beside the fresh one
    assert sum(k[:3] == (spark, sf, "region") for k in _table_handle.entries) == 1

    parts = tmp_path / "nation.parquet"
    parts.mkdir()
    pq.write_table(pa.table({"n_nationkey": [0, 1]}), str(parts / "part-0.parquet"))
    assert load_table(spark, sf, "nation").count() == 2
    pq.write_table(pa.table({"n_nationkey": [2]}), str(parts / "part-1.parquet"))
    assert load_table(spark, sf, "nation").count() == 3


def test_self_join_of_one_handle_matches_duckdb(spark, sf_dir):
    """Ops that load a table twice now share one handle, so their joins
    are self-joins of one relation: aliased sides keep their own
    filters and columns (DuckDB's answer is 40 rows at any SF), and an
    unaliased reference to the right side's columns, which Spark cannot
    tell from the left side's, fails at analysis instead of answering
    wrong."""
    import duckdb
    from pyspark.errors import AnalysisException

    from my_polars_ai_spark.sources.tables import load_table

    nation = load_table(spark, sf_dir, "nation")
    assert load_table(spark, sf_dir, "nation") is nation
    lo = nation.filter(F.col("n_nationkey") < 10)
    hi = nation.filter(F.col("n_nationkey") >= 5)
    got = sorted(
        tuple(r)
        for r in lo.alias("lo")
        .join(hi.alias("hi"), F.col("lo.n_regionkey") == F.col("hi.n_regionkey"))
        .select("lo.n_nationkey", "hi.n_nationkey")
        .collect()
    )
    want = sorted(
        duckdb.sql(
            f"""SELECT a.n_nationkey, b.n_nationkey
            FROM '{sf_dir}/nation.parquet' a JOIN '{sf_dir}/nation.parquet' b
              ON a.n_regionkey = b.n_regionkey
            WHERE a.n_nationkey < 10 AND b.n_nationkey >= 5"""
        ).fetchall()
    )
    assert len(want) == 40 and got == want
    with pytest.raises(AnalysisException, match="ambiguous"):
        lo.join(hi, lo["n_regionkey"] == hi["n_regionkey"]).select(hi["n_nationkey"]).collect()


def test_load_table_handles_of_a_stopped_session_are_evicted(sf_dir):
    """After spark.stop() and a new session, the next load evicts the
    stopped session's handles. Runs in its own process: stopping the
    suite's shared session would break every later test."""
    import os
    import subprocess
    import sys

    script = """
import sys
from pyspark.sql import SparkSession
from my_polars_ai_spark.sources.tables import _table_handle, load_table

def session():
    return (SparkSession.builder.master("local[1]")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", "512m").getOrCreate())

old = session()
load_table(old, sys.argv[1], "nation")
assert {k[0] for k in _table_handle.entries} == {old}
old.stop()
new = session()
assert new is not old
assert load_table(new, sys.argv[1], "nation").count() == 25
assert {k[0] for k in _table_handle.entries} == {new}, _table_handle.entries
print("evicted")
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(filter(None, (root, os.environ.get("PYTHONPATH"))))}
    r = subprocess.run(
        [sys.executable, "-c", script, sf_dir], capture_output=True, text=True, cwd=root, env=env, timeout=300
    )
    assert r.returncode == 0 and "evicted" in r.stdout, r.stdout + r.stderr[-3000:]
