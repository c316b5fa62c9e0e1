"""Driver-attestable LIVE Structured Streaming operators.

Every streaming job in my_polars_ai_spark.streaming.jobs has a batch
twin whose oracle the driver has checked since round 5 — but the
STREAMING path itself (file source -> watermark -> stateful agg ->
memory sink) has only ever been exercised by pytest's stream==batch
equality asserts. These ops close that gap: each one runs the real
readStream pipeline to completion (availableNow trigger, memory sink
drain) and returns the materialized result, with the batch twin's
ANSI-SQL as its oracle. A green CORRECTNESS row here attests the
streaming ENGINE output, not just the shared expression semantics.

Scale shape: identical to the batch twins — windowed aggregation state
is bounded by watermark eviction (tumbling/session), and the Gopher
gate is a stateless narrow map (no state store at all). In production
the file source swaps for Kafka with identical downstream code.

Reference parity: the reference (slackroo/my-polars-ai) has no
streaming surface at all — this module is part of the designated
Structured-Streaming extension (SURVEY.md §2b, streaming row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from my_polars_ai_spark.operators.base import Op, make_registrar
from my_polars_ai_spark.operators.timeseries import OPS as _TS_OPS, _gap_flag_sql

OPS: dict[str, Op] = {}
op = make_registrar(OPS)


@op(
    "stream_tumbling_counts",
    oracle=None,  # the batch twin's, wired below
    tags=("streaming", "timeseries", "window"),
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE streaming tumbling-window counts: the real watermarked
    readStream pipeline of streaming/jobs.stream_tumbling_counts,
    drained through the memory sink and checked against the SAME
    oracle as its batch twin `tumbling_window_hourly` — a green row
    attests the streaming engine produced the batch answer.

    Scale shape: per-window state bounded by the 30-minute watermark;
    complete-mode drain is test-harness plumbing (production appends
    to a sink as watermarks close windows)."""
    from my_polars_ai_spark.streaming.jobs import stream_tumbling_counts as job

    return job(spark, sf_dir)


@op(
    "stream_session_windows",
    oracle=f"""{_gap_flag_sql("user_id, ts, event_id")}, numbered AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           count(*) AS n_events
    FROM numbered
    GROUP BY user_id, sid
    """,
    tags=("streaming", "timeseries", "session"),
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE streaming per-user session windows (10-minute gap): the
    real F.session_window merge running under Structured Streaming
    (streaming/jobs.stream_session_windows), checked against the same
    lag+cumsum sessionization oracle as the batch `session_window_10m`.

    Scale shape: session state is per-user and watermark-evicted once
    no event can extend the session."""
    from my_polars_ai_spark.streaming.jobs import stream_session_windows as job

    return job(spark, sf_dir)


@op(
    "stream_gopher_gate",
    # identical decision table as the batch op — resolved at import
    # time below to keep ONE definition of the rule SQL
    oracle=None,
    tags=("streaming", "text", "quality", "curation", "pipeline"),
)
def stream_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE streaming Gopher quality gate: the EXACT rule projection of
    `gopher_quality_flags` (one shared gopher_flags_frame definition)
    applied at INGEST time over the documents file stream
    (streaming/jobs.stream_quality_gate) — the shape a production
    curation pipeline uses to reject junk before it is ever committed
    to the corpus. Checked against the batch op's full decision-table
    oracle.

    Scale shape: stateless narrow map — no watermark, no state store;
    streams at source parallelism."""
    from my_polars_ai_spark.streaming.jobs import stream_quality_gate as job

    return job(spark, sf_dir)


@op(
    "stream_sliding_counts",
    oracle=None,  # the batch twin's, wired below
    tags=("streaming", "timeseries", "window", "sliding"),
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE streaming sliding windows (1 h / 30 min): every event lands
    in exactly two overlapping windows, state per window watermark-
    bounded (streaming/jobs.stream_sliding_counts); same oracle as the
    batch `sliding_window_1h_30m`."""
    from my_polars_ai_spark.streaming.jobs import stream_sliding_counts as job

    return job(spark, sf_dir)


@op(
    "stream_neardup_screen",
    oracle=None,
    tags=("streaming", "dedup", "minhash", "lsh", "incremental", "pipeline"),
)
def stream_neardup_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE streaming incremental near-dup screen: newly crawled docs
    arrive as a stream and each micro-batch is LSH-screened against the
    STATIC already-ingested corpus index via foreachBatch
    (streaming/jobs.stream_neardup_vs_corpus) — the production
    ingest-time dedup shape. Checked against the SAME oracle as its
    batch twin `dedup_incremental_minhash`, so a green row attests the
    stream-vs-static candidate/verify pipeline end to end.

    Scale shape: stream side shuffles nothing until the (band,
    band_sig) candidate equi-join against the pre-built corpus band
    table; only new-vs-old pairs are ever generated. The memory-side
    result accumulation is harness plumbing — production writes each
    batch's screen verdicts straight to a sink table."""
    from my_polars_ai_spark.streaming.jobs import stream_neardup_vs_corpus as job

    return job(spark, sf_dir)


@op(
    "stream_trained_classifier",
    oracle=None,
    tags=("streaming", "ml", "text", "quality", "curation", "pipeline"),
)
def stream_trained_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE streaming deployment of the TRAINED quality classifier:
    batch-train with the ONE shared trainer (classic_ml.
    qgd_train_artifacts — the same QGD_STEPS=3 chain
    `quality_classifier_trained_scores` scores with), freeze the
    32-bucket weight table into a literal array, and score the
    document file stream with a stateless per-row JVM fold
    (streaming/jobs.stream_trained_classifier). Checked against the
    SAME oracle as the batch consumer, so a green row attests the full
    train-offline/serve-online loop: the stream's keep bits equal the
    batch scorer's bit-for-bit.

    Scale shape: serving is a narrow stateless map (no join, no
    state store — the weight artifact rides the closure); training
    cost is the batch trainer's, paid once before the stream starts."""
    from my_polars_ai_spark.streaming.jobs import stream_trained_classifier as job

    return job(spark, sf_dir)


# Resolve the shared oracle SQL once at import: the op dataclass is
# frozen, so rebuild the entries rather than mutating them. ONE
# definition of each decision table / pipeline oracle — the streaming
# ops may not drift from their batch twins.
def _wire_shared_oracles() -> None:
    from my_polars_ai_spark.operators.classic_ml import _QGD_TRAINED_SQL
    from my_polars_ai_spark.operators.dedup import _INCREMENTAL_MH_SQL
    from my_polars_ai_spark.operators.text import _GOPHER_SQL

    for name, oracle in (
        ("stream_gopher_gate", _GOPHER_SQL),
        ("stream_neardup_screen", _INCREMENTAL_MH_SQL),
        ("stream_trained_classifier", _QGD_TRAINED_SQL),
        ("stream_tumbling_counts", _TS_OPS["tumbling_window_hourly"].oracle),
        ("stream_sliding_counts", _TS_OPS["sliding_window_1h_30m"].oracle),
    ):
        base = OPS[name]
        OPS[name] = Op(
            name=base.name, fn=base.fn, oracle=oracle, tags=base.tags, doc=base.doc
        )


_wire_shared_oracles()
