"""Structured Streaming counterparts of the batch time-window operators
(SURVEY.md §2b streaming extension; the reference has no streaming at all
— this is the designated extension surface over the events table).

Each job reads the events parquet as a stream (file source — in
production this is Kafka with identical downstream code), applies
watermarked windowed aggregation, and drains through a memory sink via
processAllAvailable() so batch tests can assert on the result. The
*semantics* (window assignment, session merge) are oracle-checked in
batch mode by my_polars_ai_spark.operators.timeseries — these jobs reuse
the same expressions, adding watermarks for late data.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from my_polars_ai_spark.sources.tables import normalize_events_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The file stream source needs an explicit schema; probe the footer via
    # a batch read so either corpus generation works (ts as TIMESTAMP(NANOS)
    # -> long under nanosAsLong, or TIMESTAMP(MICROS) -> timestamp_ntz).
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(raw_schema)
        # the file stream source requires a directory; select just the
        # events file out of the corpus dir with a glob filter
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(raw)


def _run_available(writer) -> None:
    """Start the configured stream ``writer`` on everything available
    now and block until the query has drained it."""
    q = writer.trigger(availableNow=True).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _drain_to_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Run the streaming query to completion over the available files and
    return the materialized result as a batch DataFrame."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    _run_available(
        stream_df.writeStream.outputMode(output_mode).format("memory").queryName(name)
    )
    return stream_df.sparkSession.table(name)


def stream_tumbling_counts(spark: SparkSession, sf_dir: str, gap: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window counts per event type (streaming twin of
    operators.timeseries.tumbling_window_hourly; same exact-decimal sum so
    stream==batch holds bit-for-bit, not just up to summation order)."""
    from my_polars_ai_spark.operators.timeseries import _sum4_value

    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", gap).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), _sum4_value().alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )
    return _drain_to_memory(agg, "complete")


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked sliding windows, 1 h length / 30 min slide (streaming
    twin of operators.timeseries.sliding_window_1h_30m): every event lands
    in exactly two overlapping windows; state per window is bounded and
    evicted once the watermark passes the window end."""
    from my_polars_ai_spark.operators.timeseries import _sum4_value

    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), _sum4_value().alias("sum_value"))
        .select(F.col("w.start").cast("long").alias("window_start_epoch"), "n", "sum_value")
    )
    return _drain_to_memory(agg, "complete")


def stream_session_windows(spark: SparkSession, sf_dir: str, gap: str = "10 minutes") -> DataFrame:
    """Watermarked per-user session windows (streaming twin of
    operators.timeseries.session_window_10m)."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "30 minutes")
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
    return _drain_to_memory(agg, "complete")


EMA_ALPHA = 0.3


def ema_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stateful streaming EMA: per-user exponential
    moving average of `value` over (ts, event_id) order, computed with
    applyInPandas (recursive — not expressible in closed-form SQL)."""
    import pandas as pd

    from my_polars_ai_spark.sources.tables import load_table

    def ema(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["ts", "event_id"])
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"].iloc[:1],
                "n_events": [len(pdf)],
                "ema_value": [
                    round(pdf["value"].ewm(alpha=EMA_ALPHA, adjust=False).mean().iloc[-1], 6)
                ],
            }
        )

    e = load_table(spark, sf_dir, "events")
    return (
        e.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandas(ema, schema="user_id bigint, n_events bigint, ema_value double")
    )


def _ema_state_update(key, pdf_iter, state):
    """applyInPandasWithState update fn for the per-user EMA (module-level
    so the empty-batch contract is unit-testable).

    A group can fire with an empty batch iterator (e.g. a timeout
    trigger) before any value arrived; in that case the state must be
    left UNTOUCHED — seeding it with (0, 0.0) would make the next real
    batch blend its first value against a spurious 0.0."""
    import pandas as pd

    (user_id,) = key
    if state.exists:
        n, ema = state.get
    else:
        n, ema = 0, None
    for pdf in pdf_iter:
        pdf = pdf.sort_values(["ts", "event_id"])
        for v in pdf["value"]:
            ema = v if ema is None else EMA_ALPHA * v + (1 - EMA_ALPHA) * ema
            n += 1
    if ema is not None:
        state.update((n, float(ema)))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "ema_value": [round(ema, 6)]}
        )


def stream_ema_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    carries (count, ema) per user across micro-batches. With the
    availableNow file source this processes the corpus as one batch, but
    the state plumbing (GroupState get/update, timeout conf) is the real
    production shape for continuous sources."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    events = read_events_stream(spark, sf_dir)

    result = (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _ema_state_update,
            outputStructType="user_id bigint, n_events bigint, ema_value double",
            stateStructType="n bigint, ema double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _drain_to_memory(result, "update")


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup on (user_id, event_type) within the watermark
    horizon — the streaming member of the dedup family."""
    events = read_events_stream(spark, sf_dir)
    deduped = events.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    counted = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_first_touch"))
    return _drain_to_memory(counted, "complete")


def _user_tier_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small static dimension for enrichment joins: one tier per user
    (derived deterministically so the batch twin agrees). In production
    this is a real dim table; its provenance is irrelevant to the join
    mechanics under test."""
    from my_polars_ai_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events")
    tiers = F.array(F.lit("bronze"), F.lit("silver"), F.lit("gold"))
    return (
        e.select("user_id")
        .distinct()
        .withColumn("tier", F.element_at(tiers, (F.col("user_id") % 3 + 1).cast("int")))
    )


def _enrich_agg(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Shared stream/batch expression: enrich with the static dim, then
    hourly counts + exact-decimal value sums per tier."""
    from my_polars_ai_spark.operators.timeseries import _sum4_value

    return (
        events.join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "tier")
        .agg(F.count(F.lit(1)).alias("n"), _sum4_value().alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "tier", "n", "sum_value")
    )


def enrich_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of stream_static_enrich (same expressions, no stream)."""
    from my_polars_ai_spark.sources.tables import load_table

    return _enrich_agg(load_table(spark, sf_dir, "events"), _user_tier_dim(spark, sf_dir))


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the standard production shape for
    decorating an event stream with dimension attributes before a
    windowed aggregation. The static side is broadcast to every task and
    the join is STATELESS (no watermark state, unlike stream-stream
    joins); only the downstream windowed agg keeps state, bounded by the
    watermark. At scale the dim refreshes per micro-batch via the normal
    batch-table resolution — no code change."""
    events = read_events_stream(spark, sf_dir).withWatermark("ts", "30 minutes")
    agg = _enrich_agg(events, _user_tier_dim(spark, sf_dir))
    return _drain_to_memory(agg, "complete")


def _attribution_join(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """Shared stream/batch expression: attribute each purchase to every
    view by the same user in the preceding hour."""
    return views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        (F.col("p_ts").cast("long") - F.col("v_ts").cast("long")).alias("lag_sec"),
    )


def _views_purchases(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    return views, purchases


def attribution_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of stream_stream_attribution (same expressions)."""
    from my_polars_ai_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    return _attribution_join(*_views_purchases(events))


def stream_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: view->purchase attribution within one
    hour per user. Both sides carry watermarks and the join condition
    bounds event-time distance, so each side's buffered state is evicted
    once the other side's watermark passes the interval — bounded state
    at any stream length, the production shape for funnel/attribution
    pipelines. INNER join results emit eagerly on match (they never wait
    for the watermark; the watermark only gates state cleanup), so an
    availableNow drain sees every match."""
    v_events = read_events_stream(spark, sf_dir).withWatermark("ts", "30 minutes")
    p_events = read_events_stream(spark, sf_dir).withWatermark("ts", "30 minutes")
    views, _ = _views_purchases(v_events)
    _, purchases = _views_purchases(p_events)
    joined = _attribution_join(views, purchases)
    return _drain_to_memory(joined, "append")


def totals_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of stream_totals_tws: per-user event count + exact
    micro-unit value sum."""
    from my_polars_ai_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("value").cast("decimal(18,4)") * 10000).cast("long")).alias(
            "sum_value_e4"
        ),
    )


def tws_available() -> bool:
    """True if the host python has the protobuf runtime the
    transformWithState runner needs."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stream_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals through transformWithStateInPandas — the
    Spark 4 arbitrary-state API that supersedes applyInPandasWithState
    (typed ValueState/ListState/MapState handles, timers, TTL; state
    survives in the checkpoint's RocksDB at scale). Each micro-batch
    folds its rows into a ValueState tuple and emits the updated totals
    for the keys it touched; sums accumulate in integer 1e-4 units so
    stream==batch holds exactly regardless of batch boundaries.

    Environment note: the transformWithState Python runner speaks
    protobuf to the JVM state server; call ``tws_available()`` first —
    on hosts with a broken/absent google.protobuf the runner crashes at
    init (this container: ImportError on google.protobuf.descriptor),
    and applyInPandasWithState (stream_ema_stateful) is the working
    stateful path."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n_events BIGINT, sum_value_e4 BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, s = (self._state.get() or (0, 0)) if self._state.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                # per-VALUE integer 1e-4 units (matches the batch twin's
                # decimal(18,4) cast; corpus values are 2-decimal so the
                # rounding never sits on a tie) — summing integers keeps
                # the total exact across any micro-batch split
                s += int(pdf["value"].mul(10000).round().astype("int64").sum())
            self._state.update((n, s))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value_e4": [s]}
            )

        def close(self) -> None:
            pass

    # transformWithState requires the RocksDB state store (the default
    # HDFS-backed provider doesn't implement its column-family API).
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    events = read_events_stream(spark, sf_dir)
    out = events.groupBy("user_id").transformWithStateInPandas(
        RunningTotals(),
        outputStructType="user_id BIGINT, n_events BIGINT, sum_value_e4 BIGINT",
        outputMode="Update",
        timeMode="None",
    )
    return _drain_to_memory(out, "update")


def bounce_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin: the registry op `session_bounce_rate`."""
    from my_polars_ai_spark.operators.timeseries import OPS as TS_OPS

    return TS_OPS["session_bounce_rate"].fn(spark, sf_dir)


def stream_session_bounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming bounce-rate feed: the STATEFUL half (watermarked
    per-user session windows) runs under Structured Streaming; the
    calendar rollup — whose input is session-count-sized, not
    event-sized — is the batch tail over the drained session table.
    This is the standard two-level shape when the second aggregation is
    report-bounded: keep the unbounded-state operator streaming,
    finish the tiny rollup at read time (chaining a second streaming
    agg would force append-mode watermark propagation for no state
    benefit)."""
    sessions = stream_session_windows(spark, sf_dir)  # drained: user, start, n
    return (
        sessions.groupBy(
            F.to_date(F.date_trunc("day", "session_start")).alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("long").alias("n_bounce"),
        )
    )


def user_totals_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the foreachBatch store: per-user event count +
    exact value cents."""
    from my_polars_ai_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("value").cast("decimal(28,6)") * 100).cast("decimal(38,0)"))
        .cast("long").alias("cents"),
    )


def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str, store_dir: str) -> DataFrame:
    """foreachBatch exactly-once sink: stream the per-user totals
    aggregation (complete mode) and persist each micro-batch's full
    snapshot via WRITE-TO-EPOCH-DIR + POINTER-SWAP — the idempotent
    pattern that makes any retried batch safe: a replayed batch_id
    overwrites its own epoch directory and re-points the same pointer,
    so the store never holds a half batch or a double-applied one
    (the file-based equivalent of MERGE INTO with an epoch watermark).
    Readers resolve the pointer file to the current epoch directory."""
    import json
    import os

    events = read_events_stream(spark, sf_dir)
    agg = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("value").cast("decimal(28,6)") * 100).cast("decimal(38,0)"))
        .cast("long").alias("cents"),
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        epoch_dir = os.path.join(store_dir, f"epoch={batch_id}")
        batch_df.write.mode("overwrite").parquet(epoch_dir)   # idempotent per batch_id
        tmp = os.path.join(store_dir, "_POINTER.tmp")
        with open(tmp, "w") as fh:
            json.dump({"current": f"epoch={batch_id}"}, fh)
        os.replace(tmp, os.path.join(store_dir, "_POINTER.json"))

    _run_available(agg.writeStream.outputMode("complete").foreachBatch(upsert))

    with open(os.path.join(store_dir, "_POINTER.json")) as fh:
        current = json.load(fh)["current"]
    return spark.read.parquet(os.path.join(store_dir, current))


def stream_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of operators.timeseries.ohlc_bars_hourly: the same
    single min_by/max_by aggregation under a watermarked 1-hour tumbling
    window — open/close selection is deterministic under ties via the
    (ts, event_id) struct key, so stream==batch holds bit-for-bit."""
    events = read_events_stream(spark, sf_dir)
    key = F.struct(F.col("ts"), F.col("event_id"))
    agg = (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("w.start").alias("hour"), "event_type",
                "open", "high", "low", "close", "n_events")
    )
    return _drain_to_memory(agg, "complete")


def stream_manifest_ingest(spark: SparkSession, sf_dir: str, table_dir: str) -> dict:
    """Streaming ingestion INTO the data-skipping manifest table format
    (sources/manifest_format.py): each micro-batch appends its rows as
    hour-bucketed parquet and MERGES its per-bucket min/max/row stats
    into the table's manifest — how a Delta/Iceberg sink accretes file
    statistics per commit, so a downstream reader can prune files the
    moment the data lands. foreachBatch + availableNow; returns the
    final manifest."""
    from my_polars_ai_spark.sources.manifest_format import write_manifest_table

    events = read_events_stream(spark, sf_dir)
    bucketed = events.withColumn(
        "hour_bucket", F.date_format(F.date_trunc("hour", "ts"), "yyyyMMddHH")
    )

    state: dict = {}

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # commit_id makes the at-least-once foreachBatch replay-safe: a
        # retried batch overwrites its own __commit dir and its stats
        # merge exactly once (same guarantee as the epoch-dir upsert
        # sink above)
        state["manifest"] = write_manifest_table(
            batch_df, table_dir, "hour_bucket", ("ts", "value"),
            mode="append", commit_id=batch_id,
        )

    _run_available(bucketed.writeStream.outputMode("append").foreachBatch(ingest))
    return state.get("manifest", {})


def stream_dlq_split(
    spark: SparkSession, sf_dir: str, store_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Dead-letter-queue ingest: every micro-batch splits on a validity
    predicate — clean rows append to the main table, rejects append to
    a quarantine (DLQ) table WITH the batch id and reject reason
    attached — the production pattern that keeps one poison record
    from stalling a pipeline while losing nothing (the streaming
    composition of the try_arithmetic_funcs quarantine idea). Both
    sinks write per-batch epoch directories keyed by batch_id, so an
    at-least-once replay overwrites its own files and the pair of
    tables never double-counts (same idempotency contract as
    stream_foreachbatch_upsert). Returns (main_df, dlq_df) read back
    from the stores."""
    import os

    events = read_events_stream(spark, sf_dir)
    # validity contract for the events table: non-negative value and a
    # JSON-shaped props payload. NULL in either column must land in the
    # DLQ, not vanish: the raw predicate evaluates to NULL on NULL
    # inputs and then BOTH filter(p) and filter(~p) drop the row —
    # coalesce to false so rejects stay rejects (reviewed bug).
    valid = F.coalesce(
        (F.col("value") >= 0) & F.col("props").startswith("{"), F.lit(False)
    )

    def split(batch_df: DataFrame, batch_id: int) -> None:
        flagged = batch_df.withColumn("__ok", valid)
        flagged.filter(F.col("__ok")).drop("__ok").write.mode("overwrite").parquet(
            os.path.join(store_dir, "main", f"epoch={batch_id}")
        )
        (
            flagged.filter(~F.col("__ok"))
            .drop("__ok")
            .withColumn("reject_batch", F.lit(batch_id).cast("long"))
            .withColumn(
                "reject_reason",
                F.when(
                    F.col("value").isNull() | (F.col("value") < 0), "invalid_value"
                ).otherwise("bad_props"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(store_dir, "dlq", f"epoch={batch_id}"))
        )

    _run_available(
        events.writeStream.foreachBatch(split).option(
            "checkpointLocation", os.path.join(store_dir, "_chk")
        )
    )
    main = spark.read.parquet(os.path.join(store_dir, "main", "epoch=*"))
    dlq = spark.read.parquet(os.path.join(store_dir, "dlq", "epoch=*"))
    return main, dlq


def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of operators.timeseries.session_window_dynamic_gap:
    the same per-EVENT gap expression (purchase holds the session open
    30 minutes, everything else 10) under a watermark — dynamic-gap
    session state merges exactly as in batch, and eviction is bounded
    by watermark + max gap. Aggregated to per-user session counts so
    the stream==batch equality test compares the registered op's exact
    output shape."""
    events = read_events_stream(spark, sf_dir)
    gap = F.when(F.col("event_type") == "purchase", F.lit("30 minutes")).otherwise(
        F.lit("10 minutes")
    )
    sess = (
        events.withWatermark("ts", "30 minutes")
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_ev"))
    )
    # the session merge is the STATEFUL half; the per-user rollup runs
    # as a batch tail over the drained sessions (chaining two stateful
    # aggs trips Spark's global-watermark correctness check — same
    # split as stream_session_bounce)
    drained = _drain_to_memory(sess, "complete")
    return drained.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_ev").cast("long").alias("n_events"),
    )


def stream_neardup_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of operators.dedup.dedup_incremental_minhash — the
    PRODUCTION shape of incremental corpus dedup: newly crawled
    documents arrive as a stream, each micro-batch is near-dup-screened
    against the STATIC already-ingested corpus (its band table and
    token arrays are the pre-built index artifacts; here cached batch
    DataFrames), and only new-vs-old pairs are ever generated.

    The multi-stage candidate/verify pipeline (band equi-join ->
    size-ratio prefilter -> exact-Jaccard verify -> per-doc aggregate)
    chains two aggregations, which Structured Streaming forbids in a
    single query — so the job uses foreachBatch, the documented pattern
    for complex per-batch logic against static state (the same pattern
    as stream_foreachbatch_upsert's MERGE). Stream-side minhash
    signatures are pure per-row JVM expressions (array_min over hashed
    distinct tokens — no vocab join needed on the hot path), so the
    stream side shuffles nothing until the candidate join.

    Batch-equality contract (tested): output rows equal
    dedup_incremental_minhash's exactly."""
    from my_polars_ai_spark.operators.base import ROUND_RATIO
    from my_polars_ai_spark.operators.dedup import (
        _INCR_SPLIT,
        MINHASH_THRESHOLD,
        N_BANDS,
        N_PERMS,
        _band_structs,
        _doc_tokens,
        portable_hash60,
    )

    # ---- static corpus index (at 100 TB: a maintained table, not a
    # recompute; parquet is the only persisted state in this harness) --
    toks = _doc_tokens(spark, sf_dir).filter(F.col("doc_id") % _INCR_SPLIT != 0)
    sig = toks.groupBy("doc_id").agg(
        *[
            F.min(portable_hash60(F.concat(F.lit(f"{i}:"), F.col("tok")))).alias(f"mh{i}")
            for i in range(N_PERMS)
        ],
        F.count(F.lit(1)).alias("nb"),
        F.array_sort(F.collect_set("tok")).alias("toks_b"),
    )
    band_structs = _band_structs(N_PERMS, N_BANDS)
    corpus_index = (
        sig.select(
            F.col("doc_id").alias("doc_old"),
            "nb",
            "toks_b",
            F.explode(F.array(*band_structs)).alias("bs"),
        )
        .select("doc_old", "nb", "toks_b", F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig"))
        .cache()
    )
    corpus_index.count()  # materialize the index once, before the stream

    # ---- streaming side: per-row JVM signatures, zero shuffle ----
    stream = read_documents_stream(spark, sf_dir).filter(
        F.col("doc_id") % _INCR_SPLIT == 0
    )
    toks_arr = F.array_sort(
        F.array_remove(F.array_distinct(F.split("text", " ")), "")
    )
    def _mh_expr(perm: int):
        # factory keeps the lambda single-arg: a two-arg lambda (even
        # via a default) makes F.transform bind the second parameter to
        # the ELEMENT INDEX, silently shadowing the permutation id
        return F.array_min(
            F.transform(
                F.col("toks_a"),
                lambda tok: portable_hash60(F.concat(F.lit(f"{perm}:"), tok)),
            )
        )

    mh = [_mh_expr(i).alias(f"mh{i}") for i in range(N_PERMS)]
    enriched = stream.select(
        F.col("doc_id").alias("doc_new"), toks_arr.alias("toks_a")
    ).select("doc_new", "toks_a", F.size("toks_a").alias("na"), *mh)
    new_bands = enriched.select(
        "doc_new", "na", "toks_a", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_new", "na", "toks_a", F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig"))

    results: list = []

    def _screen(batch_df: DataFrame, _batch_id: int) -> None:
        pre = (
            batch_df.join(corpus_index, ["band", "band_sig"])
            .groupBy("doc_new", "doc_old")
            .agg(
                F.first("na").alias("na"),
                F.first("nb").alias("nb"),
                F.first("toks_a").alias("toks_a"),
                F.first("toks_b").alias("toks_b"),
            )
            .filter(F.least("na", "nb") >= MINHASH_THRESHOLD * F.greatest("na", "nb"))
        )
        ni = F.size(F.array_intersect("toks_a", "toks_b"))
        jac = ni / (F.col("na") + F.col("nb") - ni)
        out = (
            pre.filter(jac >= MINHASH_THRESHOLD)
            .groupBy(F.col("doc_new").alias("doc_id"))
            .agg(
                F.count(F.lit(1)).alias("n_dup_partners"),
                F.round(F.max(jac), ROUND_RATIO).alias("best_jaccard"),
            )
        )
        results.extend(out.collect())

    _run_available(new_bands.writeStream.foreachBatch(_screen))
    return spark.createDataFrame(
        results, "doc_id bigint, n_dup_partners bigint, best_jaccard double"
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents corpus as a file stream (the ingest-time shape: new
    crawl shards landing in a directory)."""
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Gopher quality gate: the EXACT rule projection of the
    batch `gopher_quality_flags` op (one shared definition —
    operators/text.py gopher_flags_frame) applied to the documents file
    stream. The decision table is a stateless narrow map, so it
    streams with no watermark, no state store, and no output-mode
    caveats — the filter belongs at INGEST time, before a byte of junk
    is ever committed to the curated corpus."""
    from my_polars_ai_spark.operators.text import gopher_flags_frame

    docs = read_documents_stream(spark, sf_dir)
    return _drain_to_memory(gopher_flags_frame(docs), "append")


def stream_trained_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deployment of the TRAINED hashed quality classifier:
    the batch trainer (operators/classic_ml.qgd_train_artifacts, the
    single definition `quality_classifier_trained_scores` also uses)
    produces the QGD_DIM-row weight table; the weights are frozen into
    a literal array (the bounded artifact-collect every train->deploy
    boundary has) and the document stream is scored with a pure
    per-row JVM fold — hash each token into its bucket, sum the
    bucket weights, clamp through the integer hard sigmoid, emit the
    keep/drop bit. Train offline, serve as a stateless narrow map: no
    join, no watermark, no state store on the serving path."""
    from my_polars_ai_spark.operators.classic_ml import (
        QGD_DIM,
        QGD_KEEP_MICRO,
        QGD_MICRO,
        _qgd_p,
        qgd_train_artifacts,
    )
    from my_polars_ai_spark.operators.dedup import portable_hash60
    from my_polars_ai_spark.operators.text import _EN_MARKERS

    _, _, w = qgd_train_artifacts(spark, sf_dir)
    # bounded artifact collect: QGD_DIM (=32) weight rows, the
    # train->deploy hand-off every production scorer does
    weights = {int(r["b"]): int(r["w"]) for r in w.collect()}
    w_arr = F.array(*[F.lit(weights[b]).cast("bigint") for b in range(QGD_DIM)])

    docs = read_documents_stream(spark, sf_dir)
    ts = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    scored = docs.select("doc_id", ts.alias("ts")).filter(F.size("ts") > 0)
    z = F.aggregate(
        "ts",
        F.lit(0).cast("bigint"),
        lambda acc, tok: acc
        + F.element_at(
            w_arr,
            (
                portable_hash60(F.concat(F.lit("f:"), tok)) % QGD_DIM
            ).cast("int")
            + 1,
        ),
    )
    y = F.when(
        F.size(F.filter("ts", lambda x: x.isin(*_EN_MARKERS))) >= 2, QGD_MICRO
    ).otherwise(0)
    p = _qgd_p(F.col("z_micro"))
    out = (
        scored.select("doc_id", z.alias("z_micro"), y.alias("y_micro"))
        .select(
            "doc_id",
            p.alias("p_micro"),
            F.col("y_micro").cast("bigint").alias("y_micro"),
            F.when(p >= QGD_KEEP_MICRO, 1).otherwise(0).cast("int").alias("keep"),
        )
    )
    return _drain_to_memory(out, "append")
