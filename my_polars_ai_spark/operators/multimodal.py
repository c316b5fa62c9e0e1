"""Multimodal column plumbing: opaque binary payloads + typed metadata,
decode/feature-extract as Arrow-batched Pandas UDFs (training-data
pipeline extension; BASELINE.json).

The container has no image/audio codec libraries, so the image format
used is netpbm P6 (PPM) — a public format trivially encodable/decodable
in pure Python — which lets the decode step be REAL: a parser that reads
the magic number, dimensions, and pixel bytes out of a binary column.
The Spark-side shape is what matters at 100 TB: binary columns flow
through mapInPandas in Arrow batches, schemas are explicit, and nothing
ever collects to the driver; swapping the PPM parser body for PIL/av
changes nothing about the plan.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_polars_ai_spark.operators.base import (
    RDZV_SHARDS,
    ROUND_RATIO,
    Op,
    make_registrar,
    oracle_ratio_round,
    ratio_round,
    session_memo,
)
from my_polars_ai_spark.sources.tables import load_table as _t

OPS: dict[str, Op] = {}
op = make_registrar(OPS)

PPM_WIDTH = 16  # pixels per row in the synthesized images (3 bytes/pixel)
_ROW_BYTES = PPM_WIDTH * 3  # one pixel row = width * RGB

DECODE_SCHEMA = (
    "doc_id bigint, fmt string, width int, height int, n_px_bytes bigint, mean_px double"
)


@op(
    "multimodal_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
    tags=("multimodal", "binary"),
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + metadata columns: documents' text re-encoded as an
    opaque binary column (stand-in for image/audio bytes), with byte
    length and content digest — the metadata layer a multimodal table
    keeps alongside the blob."""
    d = _t(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    return d.select(
        "doc_id",
        F.length(payload).alias("n_bytes"),
        F.md5("text").alias("content_md5"),
    )


def _encode_ppm(text_bytes: bytes) -> bytes:
    """Pure-Python netpbm P6 encoder: pack a byte string into a
    PPM_WIDTH-pixel-wide RGB image, zero-padding the last pixel row."""
    height = max(1, -(-len(text_bytes) // _ROW_BYTES))  # ceil div
    pixels = text_bytes.ljust(_ROW_BYTES * height, b"\x00")
    return b"P6\n%d %d\n255\n" % (PPM_WIDTH, height) + pixels


def _encode_ppm_batches(batches) -> Iterator:
    """mapInPandas stage 1: text -> opaque binary image payload."""
    import pandas as pd

    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": [_encode_ppm(t.encode("utf-8")) for t in pdf["text"]],
            }
        )


def _decode_ppm_batches(batches) -> Iterator:
    """mapInPandas stage 2: REAL P6 parser — reads the magic number,
    dimensions, and maxval out of the header, then the raw pixel bytes.
    Swapping this body for PIL/av changes nothing about the Spark plan:
    Arrow batches of binary in, typed feature columns out, distributed.

    ``mean_px`` is rounded by the exact integer half-up rule shared with
    the DuckDB oracle (see base.ratio_round) so the hash compare cannot
    drift on float ties.
    """
    import numpy as np
    import pandas as pd

    p = 10**ROUND_RATIO

    def parse(buf: bytes):
        # P6 header: magic, whitespace-separated width/height/maxval,
        # single whitespace byte, then width*height*3 raw bytes.
        if buf[:2] != b"P6":
            raise ValueError("not a P6 PPM payload")
        header, fields, i = [], [], 2
        while len(fields) < 3:
            while buf[i : i + 1].isspace():
                i += 1
            j = i
            while not buf[j : j + 1].isspace():
                j += 1
            fields.append(int(buf[i:j]))
            i = j
        i += 1  # the single whitespace after maxval
        width, height, maxval = fields
        if maxval != 255:
            raise ValueError(f"unsupported maxval {maxval}")
        n_px = width * height * 3
        px = np.frombuffer(buf, dtype=np.uint8, count=n_px, offset=i)
        total = int(px.sum(dtype=np.int64))
        mean_px = ((2 * p * total + n_px) // (2 * n_px)) / p  # exact half-up
        return width, height, n_px, mean_px

    for pdf in batches:
        parsed = [parse(b) for b in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "fmt": "P6",
                "width": np.array([r[0] for r in parsed], dtype=np.int32),
                "height": np.array([r[1] for r in parsed], dtype=np.int32),
                "n_px_bytes": np.array([r[2] for r in parsed], dtype=np.int64),
                "mean_px": [r[3] for r in parsed],
            }
        )


@op(
    "multimodal_decode",
    # Oracle recomputes the decode outputs straight from the source text:
    # documents are ASCII (verified all SFs), so the pixel-byte sum is the
    # codepoint sum and the zero padding contributes nothing.
    oracle=f"""
    WITH b AS (
        SELECT doc_id,
               len(text) AS n_bytes,
               list_aggregate(
                   list_transform(range(1, len(text) + 1),
                                  i -> unicode(substr(text, CAST(i AS INTEGER), 1))),
                   'sum') AS sum_bytes
        FROM documents
    ), d AS (
        SELECT doc_id, sum_bytes,
               CAST(greatest(1, ceil(n_bytes / {float(_ROW_BYTES)})) AS INTEGER) AS height
        FROM b
    )
    SELECT doc_id,
           'P6' AS fmt,
           {PPM_WIDTH} AS width,
           height,
           CAST({_ROW_BYTES} * height AS BIGINT) AS n_px_bytes,
           {oracle_ratio_round('sum_bytes', f'{_ROW_BYTES} * height')} AS mean_px
    FROM d
    """,
    tags=("multimodal", "udf", "decode"),
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode->decode image pipeline over binary payloads: documents'
    bytes are packed into real netpbm P6 images (the one raster format
    encodable/decodable in pure Python — no codec libs in this
    container), then a REAL parser reads magic/dimensions/pixels back out
    and derives typed features. Both stages are Arrow-batched mapInPandas
    over binary columns; nothing collects to the driver."""
    d = _t(spark, sf_dir, "documents")
    payloads = d.select("doc_id", "text").mapInPandas(
        _encode_ppm_batches, schema="doc_id bigint, payload binary"
    )
    return payloads.mapInPandas(_decode_ppm_batches, schema=DECODE_SCHEMA)


FRAME_LEN = 16   # bytes per "frame" of the opaque payload
FRAME_STRIDE = 4  # keep every 4th frame


@op(
    "frame_sample_chunks",
    oracle=f"""
    WITH frames AS (
        SELECT doc_id,
               unnest(range(0, CAST(ceil(len(text) / {FRAME_LEN}.0) AS BIGINT))) AS frame_idx,
               text
        FROM documents
    )
    SELECT doc_id, frame_idx,
           md5(substr(text, CAST(frame_idx * {FRAME_LEN} + 1 AS INTEGER), {FRAME_LEN})) AS frame_hash
    FROM frames
    WHERE frame_idx % {FRAME_STRIDE} = 0
    """,
    tags=("multimodal", "sample", "frames"),
)
def frame_sample_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over an opaque payload: chunk each document into
    fixed-length frames and keep every FRAME_STRIDE-th — the video
    keyframe-sampling shape, expressed entirely in JVM expressions
    (sequence/explode/substring/md5; the decode-the-frame step is where
    a codec UDF would slot in, cf. multimodal_decode). Frame count
    scales with payload size, never with corpus size, and the explode is
    a narrow operation."""
    return _frame_hashes(_t(spark, sf_dir, "documents"))


def _frame_hashes(d: DataFrame) -> DataFrame:
    """Chunk ``text`` into FRAME_LEN frames, keep every FRAME_STRIDE-th.

    Empty documents are filtered BEFORE the sequence: ``F.sequence(0, -1)``
    steps backward and would emit a bogus frame_idx=0 row for a zero-length
    payload where the oracle's ``range(0, 0)`` emits none."""
    n_frames = F.ceil(F.length("text") / F.lit(float(FRAME_LEN))).cast("long")
    frames = (
        d.filter(F.length("text") > 0)
        .select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0).cast("long"), n_frames - 1)).alias("frame_idx"),
        )
        .filter(F.col("frame_idx") % FRAME_STRIDE == 0)
    )
    chunk = F.substring(
        F.col("text"), (F.col("frame_idx") * FRAME_LEN + 1).cast("int"), FRAME_LEN
    )
    return frames.select("doc_id", "frame_idx", F.md5(chunk).alias("frame_hash"))


PCM_SAMPLES = 256   # samples per synthesized clip
PCM_FRAME = 64      # samples per analysis frame

AUDIO_SCHEMA = (
    "doc_id bigint, frame_idx int, n_samples int, sum_sq bigint, peak int"
)


def _synth_pcm_batches(batches) -> Iterator:
    """mapInPandas stage 1: synthesize a PCM16-LE payload per doc — the
    audio analog of _encode_ppm. Samples are md5-derived (identical to
    the oracle's SQL formula), packed as real little-endian int16 bytes."""
    import hashlib

    import numpy as np
    import pandas as pd

    # int(hexdigest[:15], 16) == first-8-bytes-big-endian >> 4 (drop the
    # 16th hex digit) — digest math skips the hex-string round-trip, and
    # the per-sample suffixes are shared by every doc (r16, guide §4:
    # cut per-call Python overhead inside the hot UDF body; the emitted
    # bytes are identical, property-tested against the pure reference).
    md5 = hashlib.md5
    suffixes = [b"%d" % i for i in range(PCM_SAMPLES)]

    def synth(doc_id: int) -> bytes:
        pre = b"pcm:%d:" % doc_id
        vals = [
            ((int.from_bytes(md5(pre + s).digest()[:8], "big") >> 4) % 65536) - 32768
            for s in suffixes
        ]
        return np.array(vals, dtype="<i2").tobytes()

    for pdf in batches:
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "payload": [synth(int(d)) for d in pdf["doc_id"]]}
        )


def _pcm_frame_features_batches(batches) -> Iterator:
    """mapInPandas stage 2: REAL PCM decode — np.frombuffer the int16
    stream, frame it, and emit per-frame energy (sum of squares) and
    peak amplitude as EXACT integers (no float anywhere, so the compare
    can't drift). Swapping this body for librosa/av changes nothing
    about the plan.

    Vectorized over the whole Arrow batch (r16, guide §4): equal-length
    clips decode as ONE (docs, frames, samples) ndarray with axis
    reductions instead of a Python loop per (doc, frame) — identical
    int64 arithmetic, ~5x less Python overhead. Mixed-length batches
    (a real corpus ingesting variable clips) take the per-doc path."""
    import numpy as np
    import pandas as pd

    def frames_of(doc_ids, arr2d) -> pd.DataFrame:
        # arr2d: (n_docs, n_samples) int64 with n_samples % PCM_FRAME == 0
        n_docs, n_samples = arr2d.shape
        nf = n_samples // PCM_FRAME
        fr = arr2d.reshape(n_docs, nf, PCM_FRAME)
        return pd.DataFrame(
            {
                "doc_id": np.repeat(np.asarray(doc_ids, dtype=np.int64), nf),
                "frame_idx": np.tile(np.arange(nf, dtype=np.int32), n_docs),
                "n_samples": np.full(n_docs * nf, PCM_FRAME, dtype=np.int32),
                "sum_sq": (fr * fr).sum(axis=2).reshape(-1),
                "peak": np.abs(fr).max(axis=2).reshape(-1).astype(np.int32),
            }
        )

    for pdf in batches:
        bufs = list(pdf["payload"])
        lens = {len(b) for b in bufs}
        if len(lens) == 1 and bufs:
            n_bytes = lens.pop()
            usable = (n_bytes // 2 // PCM_FRAME) * PCM_FRAME  # whole frames only
            if usable:
                arr = (
                    np.frombuffer(b"".join(bufs), dtype="<i2")
                    .reshape(len(bufs), n_bytes // 2)[:, :usable]
                    .astype(np.int64)
                )
                yield frames_of(list(pdf["doc_id"]), arr)
            else:
                yield frames_of([], np.zeros((0, PCM_FRAME), dtype=np.int64))
            continue
        parts = []
        for doc_id, buf in zip(pdf["doc_id"], bufs):
            samples = np.frombuffer(buf, dtype="<i2").astype(np.int64)
            usable = (len(samples) // PCM_FRAME) * PCM_FRAME
            if usable:
                parts.append(frames_of([int(doc_id)], samples[:usable].reshape(1, -1)))
        yield (
            pd.concat(parts, ignore_index=True)
            if parts
            else frames_of([], np.zeros((0, PCM_FRAME), dtype=np.int64))
        )


@op(
    "audio_frame_features",
    oracle=f"""
    WITH s AS (
        SELECT d.doc_id, i.i,
               (('0x' || substr(md5('pcm:' || CAST(d.doc_id AS VARCHAR) || ':' || i.i), 1, 15))::BIGINT
                % 65536) - 32768 AS smp
        FROM documents d CROSS JOIN (SELECT unnest(range({PCM_SAMPLES})) AS i) i
    )
    SELECT doc_id,
           CAST(i // {PCM_FRAME} AS INTEGER) AS frame_idx,
           CAST(count(*) AS INTEGER) AS n_samples,
           CAST(sum(smp * smp) AS BIGINT) AS sum_sq,
           CAST(max(abs(smp)) AS INTEGER) AS peak
    FROM s
    GROUP BY doc_id, frame_idx
    """,
    tags=("multimodal", "udf", "audio"),
)
def audio_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-shaped multimodal pipeline (the PCM twin of the P6 image
    path): synthesize a real PCM16-LE payload per document (md5-derived
    samples — no codec libs in this container, but the byte layout,
    Arrow plumbing, and framing are exactly what a real waveform path
    uses), then decode and emit per-frame energy and peak amplitude.
    Both stages are Arrow-batched mapInPandas over binary; every output
    is an exact integer, so even the UDF pipeline is hash-compared
    against the oracle, which re-derives the same samples in SQL. Frame
    count scales with clip length, never corpus size."""
    # spread kept: sf0.1, 10 pairs: won 10/10, 1.20 vs 1.88 s without; +1 job/stage, +1 exchange, +27 KB shuffle
    d = _t(spark, sf_dir, "documents", spread=True)
    payloads = d.select("doc_id").mapInPandas(
        _synth_pcm_batches, schema="doc_id bigint, payload binary"
    )
    return payloads.mapInPandas(_pcm_frame_features_batches, schema=AUDIO_SCHEMA)


# Voice-activity threshold on per-frame energy: uniform int16 noise has
# E[s^2] ~ 2^32/12 ~ 3.58e8 per sample, so a 64-sample frame averages
# ~2.29e10 — thresholding AT the mean marks roughly half the frames
# voiced and exercises both island formation and island splitting.
VAD_SUMSQ = 22_900_000_000


# The VAD segmentation CTE prefix (md5-derived PCM samples -> per-frame
# energies -> voiced-frame islands -> per-island segment aggregates),
# shared by the segments oracle and the chunker oracle below so the two
# can't drift — they differ only past `seg`.
_VAD_SEG_CTES = f"""
    WITH s AS (
        SELECT d.doc_id, i.i,
               (('0x' || substr(md5('pcm:' || CAST(d.doc_id AS VARCHAR) || ':' || i.i), 1, 15))::BIGINT
                % 65536) - 32768 AS smp
        FROM documents d CROSS JOIN (SELECT unnest(range({PCM_SAMPLES})) AS i) i
    ), f AS (
        SELECT doc_id,
               CAST(i // {PCM_FRAME} AS INTEGER) AS frame_idx,
               CAST(sum(smp * smp) AS BIGINT) AS sum_sq
        FROM s GROUP BY 1, 2
    ), v AS (
        SELECT doc_id, frame_idx, sum_sq,
               frame_idx - row_number() OVER (PARTITION BY doc_id
                                              ORDER BY frame_idx) AS grp
        FROM f WHERE sum_sq >= {VAD_SUMSQ}
    ), seg AS (
        SELECT doc_id, grp,
               min(frame_idx) AS start_frame,
               max(frame_idx) AS end_frame,
               CAST(count(*) AS BIGINT) AS n_frames,
               CAST(sum(sum_sq) AS BIGINT) AS energy
        FROM v GROUP BY 1, 2
    )"""


@op(
    "audio_vad_segments",
    oracle=f"""
    {_VAD_SEG_CTES}
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_frame)
                AS INTEGER) AS seg_idx,
           CAST(start_frame AS INTEGER) AS start_frame,
           CAST(end_frame AS INTEGER) AS end_frame,
           n_frames, energy
    FROM seg
    """,
    tags=("multimodal", "udf", "audio", "window"),
)
def audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity-detection segments over the PCM16 clips — the
    consumer that turns `audio_frame_features`'s per-frame energies
    into the (start, end) voiced spans an ASR/caption pipeline
    actually feeds downstream. Energy thresholding + gaps-and-islands
    (frame_idx minus per-doc row_number) merges consecutive voiced
    frames into segments; swapping the threshold rule for a real VAD
    model changes one predicate, not the plan. Composes the SAME
    mapInPandas decode stages as the frame-features op (one
    definition), and every output is an exact integer.

    Scale shape: both windows are per-doc ordered over FRAMES — state
    bounded by clip length, never corpus size; the segment aggregate
    is keyed on (doc, island)."""
    v = _vad_voiced_islands(spark, sf_dir)
    seg = v.groupBy("doc_id", "grp").agg(
        F.min("frame_idx").alias("start_frame"),
        F.max("frame_idx").alias("end_frame"),
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.sum("sum_sq").cast("long").alias("energy"),
    )
    ws = Window.partitionBy("doc_id").orderBy("start_frame")
    return seg.select(
        "doc_id",
        F.row_number().over(ws).cast("int").alias("seg_idx"),
        F.col("start_frame").cast("int").alias("start_frame"),
        F.col("end_frame").cast("int").alias("end_frame"),
        "n_frames",
        "energy",
    )


# ASR-style chunking budget: voiced segments longer than this many
# frames are split so no chunk exceeds the model's context window.
VAD_CHUNK_FRAMES = 2


def _vad_voiced_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voiced frames with their gaps-and-islands id — the shared VAD
    front end (ONE definition for the segment and chunk consumers):
    (doc_id, frame_idx, sum_sq, grp) where grp identifies a maximal
    run of consecutive voiced frame indices within a doc."""
    feats = audio_frame_features(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    return feats.filter(F.col("sum_sq") >= VAD_SUMSQ).select(
        "doc_id",
        "frame_idx",
        "sum_sq",
        (F.col("frame_idx") - F.row_number().over(w)).alias("grp"),
    )


def _vad_voiced_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voiced frames annotated with their island's bounds via a window
    sharing the islands' doc_id partitioning (no extra exchange):
    (doc_id, frame_idx, sum_sq, start_frame, end_frame)."""
    v = _vad_voiced_islands(spark, sf_dir)
    wg = Window.partitionBy("doc_id", "grp")
    return v.select(
        "doc_id",
        "frame_idx",
        "sum_sq",
        F.min("frame_idx").over(wg).alias("start_frame"),
        F.max("frame_idx").over(wg).alias("end_frame"),
    )


# The chunker's full CTE prefix (VAD segments -> ordinal segments ->
# fixed-budget chunk bounds -> per-chunk exact-energy aggregates),
# shared by the chunker oracle and the export-manifest oracle below so
# the two can't drift — the same one-definition discipline as
# _VAD_SEG_CTES and text.py's _FUNNEL_DOC_CTES.
_VAD_CHUNK_CTES = f"""
    {_VAD_SEG_CTES}, segn AS (
        SELECT doc_id,
               CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_frame)
                    AS INTEGER) AS seg_idx,
               start_frame, end_frame, n_frames
        FROM seg
    ), ch AS (
        SELECT doc_id, seg_idx, start_frame, end_frame,
               CAST(unnest(range(0, CAST(ceil(n_frames / {VAD_CHUNK_FRAMES}.0)
                                         AS BIGINT))) AS INTEGER) AS chunk_idx
        FROM segn
    ), cb AS (
        SELECT doc_id, seg_idx, chunk_idx,
               CAST(start_frame + chunk_idx * {VAD_CHUNK_FRAMES} AS INTEGER)
                   AS chunk_start,
               CAST(least(end_frame,
                          start_frame + chunk_idx * {VAD_CHUNK_FRAMES}
                              + {VAD_CHUNK_FRAMES - 1}) AS INTEGER) AS chunk_end
        FROM ch
    ), chk AS (
        SELECT c.doc_id, c.seg_idx, c.chunk_idx, c.chunk_start, c.chunk_end,
               CAST(count(*) AS INTEGER) AS n_frames,
               CAST(sum(f.sum_sq) AS BIGINT) AS energy
        FROM cb c
        JOIN f ON f.doc_id = c.doc_id
              AND f.frame_idx BETWEEN c.chunk_start AND c.chunk_end
        GROUP BY 1, 2, 3, 4, 5
    )"""


@op(
    "audio_vad_chunks",
    oracle=f"""
    {_VAD_CHUNK_CTES}
    SELECT doc_id, seg_idx, chunk_idx, chunk_start, chunk_end, n_frames, energy
    FROM chk
    """,
    tags=("multimodal", "udf", "audio", "window", "pipeline"),
)
def audio_vad_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split `audio_vad_segments`'s voiced spans into fixed-budget
    chunks of at most VAD_CHUNK_FRAMES frames — the consumer that turns
    VAD segments into the bounded windows an ASR/caption model actually
    ingests (the audio analog of `pack_windows_concat`'s token
    packing): every chunk carries its frame bounds and EXACT energy,
    so a downstream batcher can pack chunks by energy or length
    without re-decoding.

    Optimization (r16, guide §2.4/§4): chunks are derived in ONE pass
    over the voiced frames instead of building segments and re-joining
    a SECOND frame-features decode for energy. Every frame inside an
    island is voiced (islands are maximal runs of consecutive voiced
    frame indices), so each voiced frame maps directly to its chunk:
    chunk_idx = (frame_idx - island_start) // VAD_CHUNK_FRAMES, and
    the per-chunk count/energy aggregate over voiced frames is
    identical to the old bounds-join against all frames (chunk ranges
    lie inside island ranges, where all frames are voiced). Measured
    at sf0.1: the manifest consumer dropped from 2 MapInPandas decode
    chains + a broadcast join to 1 decode chain, no join.

    r16 continuation (guide §5; the `_ann_index_frames` /
    `_semdedup_sketch` discipline): the chunk table is the audio
    family's shared index artifact — the export manifest AND the
    integrity audit both consume it verbatim, and each call used to
    re-run the full synth+decode mapInPandas chain per ACTION. It is
    chunk-grain (bounded per doc by clip length — a manifest-sized
    table, never the PCM payload), so it is cached and session-memoized;
    at 100 TB the written manifest parquet is the
    serve path (round-trip pinned by test) and this memo is exactly
    the in-session twin of reading that artifact back.

    Scale shape: one decode pass; the island-bounds window, the chunk
    aggregate, and the segment-ordinal ranking all reuse the same
    doc_id partitioning (one exchange after the decode). Per-doc state
    is bounded by clip length, never corpus size."""
    return _vad_chunks(spark, sf_dir)


@session_memo
def _vad_chunks(spark: SparkSession, sf_dir: str):
    """The chunker's one-pass plan (decode -> voiced frames -> chunk
    aggregate -> segment-ordinal rank), cached."""
    vf = _vad_voiced_frames(spark, sf_dir)
    chunk_idx = F.floor(
        (F.col("frame_idx") - F.col("start_frame")) / VAD_CHUNK_FRAMES
    ).cast("int")
    per_chunk = (
        vf.select(
            "doc_id",
            "start_frame",
            "end_frame",
            "sum_sq",
            chunk_idx.alias("chunk_idx"),
        )
        .groupBy("doc_id", "start_frame", "end_frame", "chunk_idx")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_frames"),
            F.sum("sum_sq").cast("long").alias("energy"),
        )
    )
    c_start = F.col("start_frame") + F.col("chunk_idx") * VAD_CHUNK_FRAMES
    c_end = F.least(F.col("end_frame"), c_start + VAD_CHUNK_FRAMES - 1)
    ws = Window.partitionBy("doc_id").orderBy("start_frame")
    chunks = per_chunk.select(
        "doc_id",
        # islands have unique start_frames per doc, so dense_rank over
        # chunk-grain rows == row_number over segment-grain rows
        F.dense_rank().over(ws).cast("int").alias("seg_idx"),
        "chunk_idx",
        c_start.cast("int").alias("chunk_start"),
        c_end.cast("int").alias("chunk_end"),
        "n_frames",
        "energy",
    ).cache()
    return chunks, (chunks,)


# PCM16-LE geometry for the export byte ranges: 2 bytes per sample.
PCM_BYTES_PER_SAMPLE = 2

_AUDIO_EXPORT_SQL = f"""
    {_VAD_CHUNK_CTES}
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY chunk_start)
                AS INTEGER) AS sample_idx,
           seg_idx, chunk_idx, chunk_start, chunk_end, n_frames, energy,
           CAST(chunk_start AS BIGINT) * {PCM_FRAME * PCM_BYTES_PER_SAMPLE}
               AS byte_start,
           CAST(n_frames AS BIGINT) * {PCM_FRAME * PCM_BYTES_PER_SAMPLE}
               AS n_bytes,
           CAST(('0x' || substr(md5('achunk:' || CAST(doc_id AS VARCHAR)
                || ':' || CAST(seg_idx AS VARCHAR)
                || ':' || CAST(chunk_idx AS VARCHAR)), 1, 15))::BIGINT
                % {RDZV_SHARDS} AS INTEGER) AS shard,
           md5(CAST(doc_id AS VARCHAR) || '|' || CAST(seg_idx AS VARCHAR)
               || '|' || CAST(chunk_idx AS VARCHAR)
               || '|' || CAST(chunk_start AS VARCHAR)
               || '|' || CAST(chunk_end AS VARCHAR)
               || '|' || CAST(n_frames AS VARCHAR)
               || '|' || CAST(energy AS VARCHAR)) AS record_md5
    FROM chk
"""


@op(
    "audio_chunk_export_manifest",
    oracle=_AUDIO_EXPORT_SQL,
    tags=("multimodal", "audio", "pipeline", "report"),
)
def audio_chunk_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SHIP step of the audio family — one export record per VAD
    chunk, the manifest an ASR/caption training job reads to slice
    payloads WITHOUT re-decoding (r12 consumer rule: consumes
    `audio_vad_chunks` verbatim, the same detect -> act -> ship ladder
    `triplet_export_manifest` and `ann_index_manifest` close for their
    families). Each record carries the chunk's frame bounds and exact
    energy, its per-doc export ordinal (sample_idx — chunk ranges
    within a doc are disjoint, so ORDER BY chunk_start is
    deterministic), the BYTE RANGE of the chunk inside the doc's
    PCM16-LE payload (frame geometry x 2 bytes/sample — the slice a
    loader actually seeks to), a deterministic placement shard, and an
    md5 record checksum.

    Scale shape: everything is per-doc or per-chunk — the ordinal
    window is doc-partitioned and bounded by clip length; shard +
    checksum + byte math are narrow projections on the chunk grain;
    writing this manifest partitioned by shard IS the export layout.
    No corpus-grain shuffle beyond the chunker's own (doc, seg,
    chunk) aggregate."""
    from my_polars_ai_spark.operators.dedup import portable_hash60

    chunks = audio_vad_chunks(spark, sf_dir)
    wd = Window.partitionBy("doc_id").orderBy("chunk_start")
    bytes_per_frame = PCM_FRAME * PCM_BYTES_PER_SAMPLE
    return chunks.select(
        "doc_id",
        F.row_number().over(wd).cast("int").alias("sample_idx"),
        "seg_idx",
        "chunk_idx",
        "chunk_start",
        "chunk_end",
        "n_frames",
        "energy",
        (F.col("chunk_start").cast("long") * bytes_per_frame).alias("byte_start"),
        (F.col("n_frames").cast("long") * bytes_per_frame).alias("n_bytes"),
        (
            portable_hash60(
                F.concat(
                    F.lit("achunk:"),
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("seg_idx").cast("string"),
                    F.lit(":"),
                    F.col("chunk_idx").cast("string"),
                )
            )
            % RDZV_SHARDS
        )
        .cast("int")
        .alias("shard"),
        F.md5(
            F.concat_ws(
                "|",
                F.col("doc_id").cast("string"),
                F.col("seg_idx").cast("string"),
                F.col("chunk_idx").cast("string"),
                F.col("chunk_start").cast("string"),
                F.col("chunk_end").cast("string"),
                F.col("n_frames").cast("string"),
                F.col("energy").cast("string"),
            )
        ).alias("record_md5"),
    )


# Every synthesized clip is exactly PCM_SAMPLES samples of PCM16-LE, so
# the payload a loader slices is this many bytes — the geometry the
# integrity audit bounds-checks byte ranges against (a real deployment
# reads per-doc payload lengths from the blob store's metadata instead;
# that swaps one literal for one join, nothing about the plan).
AUDIO_PAYLOAD_BYTES = PCM_SAMPLES * PCM_BYTES_PER_SAMPLE


_AUDIO_INTEGRITY_ORACLE = f"""
    WITH man AS (
        {_AUDIO_EXPORT_SQL}
    ), lagged AS (
        SELECT doc_id, sample_idx, byte_start, n_bytes,
               lag(byte_start + n_bytes) OVER w AS prev_end,
               lag(sample_idx) OVER w AS prev_idx
        FROM man
        WINDOW w AS (PARTITION BY doc_id ORDER BY sample_idx)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(n_bytes) AS BIGINT) AS bytes_exported,
           CAST({AUDIO_PAYLOAD_BYTES} AS BIGINT) AS payload_bytes,
           {oracle_ratio_round("sum(n_bytes)", str(AUDIO_PAYLOAD_BYTES))}
               AS coverage,
           CAST(sum(CASE WHEN byte_start < 0
                          OR byte_start + n_bytes > {AUDIO_PAYLOAD_BYTES}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_oob,
           CAST(sum(CASE WHEN prev_end IS NOT NULL AND byte_start < prev_end
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_overlaps,
           CAST(sum(CASE WHEN (prev_idx IS NULL AND sample_idx != 1)
                          OR (prev_idx IS NOT NULL
                              AND sample_idx != prev_idx + 1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_ordinal_breaks,
           CAST(sum(CASE WHEN prev_end IS NOT NULL AND byte_start > prev_end
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
           CAST(sum(CASE WHEN prev_end IS NOT NULL AND byte_start > prev_end
                     THEN byte_start - prev_end ELSE 0 END) AS BIGINT)
               AS seek_bytes,
           CAST(max(CASE WHEN prev_end IS NOT NULL AND byte_start > prev_end
                     THEN byte_start - prev_end ELSE 0 END) AS BIGINT)
               AS max_gap_bytes
    FROM lagged
    GROUP BY doc_id
"""


@op(
    "audio_manifest_integrity",
    oracle=_AUDIO_INTEGRITY_ORACLE,
    tags=("multimodal", "audio", "report"),
)
def audio_manifest_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The loader-side AUDIT consumer of `audio_chunk_export_manifest`
    — the check a training job runs over the written manifest BEFORE
    seeking into 100 TB of PCM payloads, completing the audit symmetry
    the other ship families already have (`ann_cell_balance_stats` /
    `ivf_probe_recall_curve` for the ANN index, `int8_rerank_fidelity`
    for the int8 store, the written-manifest round-trip for the
    classifier weights). Per doc it validates the manifest purely from
    its own rows plus the payload geometry — exactly what a loader can
    see without decoding audio:

    * bounds: `n_oob` counts records whose byte range escapes the
      doc's PCM payload (negative start or start+len past the end) —
      any nonzero means a seek would fault or read garbage;
    * overlap / ordering: `n_overlaps` counts consecutive-by-ordinal
      records whose byte ranges intersect, `n_ordinal_breaks` counts
      sample_idx sequence breaks (not starting at 1 / not dense) —
      both must be zero for chunk-addressed shuffling to be sound;
    * IO profile: `bytes_exported`, `coverage` of the payload, and
      the seek geometry a prefetcher prices — `n_gaps` (skipped
      silence runs between voiced chunks), `seek_bytes` (total bytes
      skipped), `max_gap_bytes` (worst single seek). High coverage +
      few gaps says "read the doc sequentially"; low coverage + many
      gaps says "scatter-read the chunks" — at scale this decides the
      export's read strategy per shard.

    The oracle nests the export's own registered SQL verbatim as its
    `man` CTE (the `_VAD_CHUNK_CTES` one-definition discipline, one
    level up: the audit and the artifact cannot drift).

    Scale shape: consumes the manifest op verbatim; Catalyst prunes
    the unused shard/md5 projections at the source. The lag window
    partitions on doc_id and the final aggregate groups on doc_id —
    both satisfied by the manifest's own sample_idx window
    partitioning, so the audit adds ZERO exchanges over the producer
    (pinned by test: equal exchange counts in both physical plans).
    Per-doc state is bounded by clip length, never corpus size."""
    m = audio_chunk_export_manifest(spark, sf_dir).select(
        "doc_id", "sample_idx", "byte_start", "n_bytes"
    )
    return _audio_manifest_integrity_stats(m)


def _audio_manifest_integrity_stats(m: DataFrame) -> DataFrame:
    """The audit body, parameterized over any manifest-shaped frame
    (doc_id, sample_idx, byte_start, n_bytes) so tests can feed a
    TAMPERED manifest and prove each detector actually fires — the
    registered op applies it to `audio_chunk_export_manifest` verbatim
    (the `_ann_serve_topk` manifest-parameter pattern)."""
    w = Window.partitionBy("doc_id").orderBy("sample_idx")
    lagged = m.select(
        "doc_id",
        "sample_idx",
        "byte_start",
        "n_bytes",
        F.lag(F.col("byte_start") + F.col("n_bytes")).over(w).alias("prev_end"),
        F.lag("sample_idx").over(w).alias("prev_idx"),
    )
    oob = F.when(
        (F.col("byte_start") < 0)
        | (F.col("byte_start") + F.col("n_bytes") > AUDIO_PAYLOAD_BYTES),
        1,
    ).otherwise(0)
    overlap = F.when(
        F.col("prev_end").isNotNull() & (F.col("byte_start") < F.col("prev_end")), 1
    ).otherwise(0)
    ordinal_break = F.when(
        (F.col("prev_idx").isNull() & (F.col("sample_idx") != 1))
        | (
            F.col("prev_idx").isNotNull()
            & (F.col("sample_idx") != F.col("prev_idx") + 1)
        ),
        1,
    ).otherwise(0)
    gap = F.when(
        F.col("prev_end").isNotNull() & (F.col("byte_start") > F.col("prev_end")),
        F.col("byte_start") - F.col("prev_end"),
    ).otherwise(F.lit(0).cast("long"))
    return lagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("n_bytes").cast("long").alias("bytes_exported"),
        F.lit(AUDIO_PAYLOAD_BYTES).cast("long").alias("payload_bytes"),
        ratio_round(F.sum("n_bytes"), F.lit(AUDIO_PAYLOAD_BYTES)).alias("coverage"),
        F.sum(oob).cast("long").alias("n_oob"),
        F.sum(overlap).cast("long").alias("n_overlaps"),
        F.sum(ordinal_break).cast("long").alias("n_ordinal_breaks"),
        F.sum((gap > 0).cast("int")).cast("long").alias("n_gaps"),
        F.sum(gap).cast("long").alias("seek_bytes"),
        F.max(gap).cast("long").alias("max_gap_bytes"),
    )


@op(
    "scene_change_detection",
    oracle=f"""
    WITH frames AS (
        SELECT doc_id,
               unnest(range(0, CAST(ceil(len(text) / {FRAME_LEN}.0) AS BIGINT))) AS frame_idx,
               text
        FROM documents WHERE len(text) > 0
    ), hashed AS (
        SELECT doc_id, frame_idx,
               ('0x' || substr(md5(substr(text, CAST(frame_idx * {FRAME_LEN} + 1 AS INTEGER),
                                          {FRAME_LEN})), 1, 15))::BIGINT AS h60
        FROM frames
    ), flagged AS (
        SELECT doc_id, frame_idx, h60,
               lag(h60) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
        FROM hashed
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(CASE WHEN prev IS NULL OR xor(h60, prev) % 5 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_scenes
    FROM flagged
    GROUP BY doc_id
    """,
    tags=("multimodal", "frames", "window"),
)
def scene_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-change detection over an opaque frame sequence — the third
    leg of the video-pipeline triple (frame_sample_chunks = keyframe
    sampling, multimodal_decode = per-frame decode, this = temporal
    segmentation). Frames hash to integers; a boundary fires when the
    frame-to-frame signature relation crosses the (deterministic md5)
    threshold — exactly where a real pipeline compares perceptual
    hashes or histogram deltas. The shape is the scalable part: one
    narrow explode, one per-doc ordered window (state bounded by clip
    length), one aggregate; all integer-exact."""
    d = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_frames = F.ceil(F.length("text") / F.lit(float(FRAME_LEN))).cast("long")
    frames = d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0).cast("long"), n_frames - 1)).alias("frame_idx"),
    )
    chunk = F.substring(
        F.col("text"), (F.col("frame_idx") * FRAME_LEN + 1).cast("int"), FRAME_LEN
    )
    from my_polars_ai_spark.operators.dedup import portable_hash60

    hashed = frames.select(
        "doc_id", "frame_idx", portable_hash60(chunk).alias("h60")
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    flagged = hashed.withColumn("prev", F.lag("h60").over(w))
    boundary = F.when(
        F.col("prev").isNull() | (F.expr("h60 ^ prev") % 5 == 0), 1
    ).otherwise(0)
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(boundary).alias("n_scenes"),
    )


RESIZE_SCHEMA = (
    "doc_id bigint, out_width int, out_height int, resized_sum bigint, resized_mean double"
)


def _resize_ppm_batches(batches) -> Iterator:
    """mapInPandas stage 3: REAL 2x2 block-mean downsample (average
    pooling with floor — integer-exact) over the decoded pixel grid.
    Odd trailing pixel rows are cropped (standard even-pool semantics);
    images shorter than 2 rows emit nothing."""
    import numpy as np
    import pandas as pd

    p = 10**ROUND_RATIO

    out = {k: [] for k in ("doc_id", "out_width", "out_height", "resized_sum", "resized_mean")}

    def emit(doc_id: int, buf: bytes) -> None:
        # reuse the P6 header contract from _decode_ppm_batches
        i = buf.index(b"\n255\n") + 5
        dims = buf[3 : buf.index(b"\n255\n")].split()
        width, height = int(dims[0]), int(dims[1])
        h2 = height // 2
        if h2 == 0:
            return
        px = np.frombuffer(buf, dtype=np.uint8, count=width * height * 3, offset=i)
        grid = px.reshape(height, width, 3)[: h2 * 2].astype(np.int64)
        sums = grid.reshape(h2, 2, width // 2, 2, 3).sum(axis=(1, 3))
        block_means = sums // 4                      # floor mean, exact
        total = int(block_means.sum())
        n_cells = h2 * (width // 2) * 3
        out["doc_id"].append(doc_id)
        out["out_width"].append(width // 2)
        out["out_height"].append(h2)
        out["resized_sum"].append(total)
        out["resized_mean"].append(((2 * p * total + n_cells) // (2 * n_cells)) / p)

    for pdf in batches:
        for k in out:
            out[k].clear()
        for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
            emit(doc_id, buf)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                "out_width": pd.Series(out["out_width"], dtype="int32"),
                "out_height": pd.Series(out["out_height"], dtype="int32"),
                "resized_sum": pd.Series(out["resized_sum"], dtype="int64"),
                "resized_mean": pd.Series(out["resized_mean"], dtype="float64"),
            }
        )


def _resize_block_mean_sql(dr_dc: list[tuple[int, int]] | None = None) -> str:
    """The 2x2 block floor-mean as portable SQL over the source text's
    codepoints (documents are ASCII; zero padding contributes nothing).
    Byte index of block (br,bc) channel ch at offset (dr,dc):
    (2*br+dr)*{row} + (2*bc+dc)*3 + ch."""
    terms = []
    for dr, dc in dr_dc or [(0, 0), (0, 1), (1, 0), (1, 1)]:
        idx = (
            f"((cell // 24) * 2 + {dr}) * {_ROW_BYTES}"
            f" + (((cell % 24) // 3) * 2 + {dc}) * 3 + (cell % 3)"
        )
        terms.append(
            f"(CASE WHEN {idx} < n THEN"
            f" unicode(substr(text, CAST({idx} + 1 AS INTEGER), 1)) ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ") // 4"


@op(
    "image_resize_stats",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, text, len(text) AS n,
               CAST(greatest(1, ceil(len(text) / {float(_ROW_BYTES)})) AS BIGINT) AS h
        FROM documents
    ), ok AS (
        SELECT doc_id, text, n, h // 2 AS h2 FROM b WHERE h >= 2
    ), cells AS (
        SELECT doc_id, text, n, h2,
               unnest(range(0, h2 * 8 * 3)) AS cell
        FROM ok
    ), v AS (
        SELECT doc_id, h2, {_resize_block_mean_sql()} AS bm
        FROM cells
    )
    SELECT doc_id,
           8 AS out_width,
           CAST(h2 AS INTEGER) AS out_height,
           CAST(sum(bm) AS BIGINT) AS resized_sum,
           {oracle_ratio_round('sum(bm)', 'h2 * 8 * 3')} AS resized_mean
    FROM v GROUP BY doc_id, h2
    """,
    tags=("multimodal", "udf", "resize"),
)
def image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE as a pipeline stage: encode -> decode -> 2x2
    average-pool downsample, all Arrow-batched mapInPandas over binary
    columns — the third multimodal verb (after decode and frame-sample)
    the brief calls for, with the pooling arithmetic REAL (numpy block
    sums, floor means) and fully oracle-checked: DuckDB recomputes every
    block mean straight from the source codepoints via the same
    generated index formula. Swapping the numpy body for PIL/torchvision
    changes nothing about the plan; at 100 TB this is a narrow per-image
    map with zero shuffles."""
    d = _t(spark, sf_dir, "documents")
    payloads = d.select("doc_id", "text").mapInPandas(
        _encode_ppm_batches, schema="doc_id bigint, payload binary"
    )
    return payloads.mapInPandas(_resize_ppm_batches, schema=RESIZE_SCHEMA)


_XCLIP_MIN_SHARED = 2

_XCLIP_SQL = f"""
    WITH frames AS (
        SELECT doc_id,
               unnest(range(0, CAST(ceil(len(text) / {FRAME_LEN}.0) AS BIGINT)))
                   AS frame_idx,
               text
        FROM documents WHERE len(text) > 0
    ), sampled AS (
        SELECT DISTINCT doc_id,
               md5(substr(text, CAST(frame_idx * {FRAME_LEN} + 1 AS INTEGER),
                          {FRAME_LEN})) AS h
        FROM frames WHERE frame_idx % {FRAME_STRIDE} = 0
    ), sizes AS (
        SELECT doc_id, CAST(count(*) AS HUGEINT) AS n FROM sampled GROUP BY 1
    ), shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS HUGEINT) AS n_shared
        FROM sampled a JOIN sampled b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= {_XCLIP_MIN_SHARED}
    )
    SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared_frames,
           CAST(sa.n AS BIGINT) AS n_frames_a,
           {oracle_ratio_round('n_shared', 'sa.n')} AS overlap_of_a
    FROM shared JOIN sizes sa ON sa.doc_id = doc_a
"""


@op(
    "cross_clip_frame_overlap",
    oracle=_XCLIP_SQL,
    tags=("multimodal", "dedup", "frames"),
)
def cross_clip_frame_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO dedup primitive: clip pairs sharing sampled keyframes —
    the frame-level analogue of dup_chunk_fraction (re-encoded,
    trimmed, or stitched copies of a clip share exact frame signatures
    even when whole-file hashes differ). Candidates come from an
    equi-join on the frame HASH over the strided keyframe table
    (_frame_hashes, the shared frame definition) — bucketed by
    content, never clip x clip — with a >=2-shared-frames support
    cutoff before the size join; overlap is the exact half-up fraction
    of the smaller-id clip's sampled frames. At 100 TB the keyframe
    table is ~1/4 of frames and the join fan-out is bounded by how
    often a signature repeats — the same candidate-generation
    discipline as the text near-dup family."""
    sampled = _frame_hashes(
        _t(spark, sf_dir, "documents")
    ).select("doc_id", F.col("frame_hash").alias("h")).distinct()
    sizes = sampled.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n")
    )
    a = sampled.select(F.col("doc_id").alias("doc_a"), "h")
    b = sampled.select(F.col("doc_id").alias("doc_b"), "h")
    shared = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n_shared"))
        .filter(F.col("n_shared") >= _XCLIP_MIN_SHARED)
    )
    return (
        shared.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("long").alias("n_shared_frames"),
            F.col("na").cast("long").alias("n_frames_a"),
            ratio_round(F.col("n_shared"), F.col("na")).alias("overlap_of_a"),
        )
    )


# ---------------------------------------------------------------------------
# Image near-dup: average-hash (aHash) fingerprints + banded Hamming join
# ---------------------------------------------------------------------------

_AHASH_PX = 64       # fingerprint over the first 64 "pixels" (codepoints)
_AHASH_MAX_HAM = 6   # near-dup threshold
# 8 bands x 8 bits: <=6 differing bits leave >=2 bands exact, so banding
# on every 8-bit slice is pigeonhole-LOSSLESS at this threshold.
_AHASH_BANDS = 8

_AHASH_SQL = f"""
    WITH px AS (
        SELECT doc_id,
               unnest(range(1, {_AHASH_PX} + 1)) AS d,
               text
        FROM documents WHERE len(text) >= {_AHASH_PX}
    ), v AS (
        SELECT doc_id, d,
               ord(substr(text, CAST(d AS INTEGER), 1)) AS c
        FROM px
    ), m AS (
        SELECT doc_id, sum(c) AS s FROM v GROUP BY doc_id
    ), bits AS (
        SELECT v.doc_id,
               sum(CASE WHEN v.c * {_AHASH_PX} > m.s AND v.d <= 32
                        THEN (CAST(1 AS BIGINT) << (v.d - 1)) ELSE 0 END) AS lo,
               sum(CASE WHEN v.c * {_AHASH_PX} > m.s AND v.d > 32
                        THEN (CAST(1 AS BIGINT) << (v.d - 33)) ELSE 0 END) AS hi
        FROM v JOIN m USING (doc_id)
        GROUP BY v.doc_id
    ), bands AS (
        SELECT doc_id, lo, hi, b.b,
               CASE WHEN b.b < 4 THEN (lo >> (8 * b.b)) & 255
                    ELSE (hi >> (8 * (b.b - 4))) & 255 END AS bv
        FROM bits CROSS JOIN (SELECT unnest(range({_AHASH_BANDS})) AS b) b
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, a.lo AS alo, a.hi AS ahi,
               bb.doc_id AS doc_b, bb.lo AS blo, bb.hi AS bhi
        FROM bands a JOIN bands bb
          ON a.b = bb.b AND a.bv = bb.bv AND a.doc_id < bb.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(alo, blo)) + bit_count(xor(ahi, bhi)) AS INT)
               AS hamming
    FROM cand
    WHERE bit_count(xor(alo, blo)) + bit_count(xor(ahi, bhi))
          <= {_AHASH_MAX_HAM}
"""


@op("image_ahash_pairs", oracle=_AHASH_SQL, tags=("multimodal", "dedup", "image"))
def image_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-dup detection by average hash (aHash): each payload's
    first 64 pixels (codepoints of the text-derived P6 payload — the
    same byte source multimodal_decode parses) become one bit each
    (pixel*64 > pixel-sum, the integer cross-multiplied 'brighter than
    mean' test), packed into two bigint words; pairs within Hamming 6
    are near-duplicate images — the perceptual-hash member of the
    dedup family, completing the modality set (text: minhash/simhash,
    video: cross_clip_frame_overlap, image: this). Candidates come
    from 8-bit band blocking, pigeonhole-LOSSLESS at the threshold
    (<=6 flipped bits leave >=2 of 8 bands exact — the simhash band
    discipline), verified by exact popcount; never all-pairs."""
    d = _t(spark, sf_dir, "documents").filter(F.length("text") >= _AHASH_PX)
    px = d.select(
        "doc_id",
        F.posexplode(
            F.split(F.substring("text", 1, _AHASH_PX), "(?!^)")
        ).alias("p", "ch"),
    ).select(
        "doc_id", (F.col("p") + 1).alias("dd"), F.ascii("ch").alias("c")
    )
    m = px.groupBy("doc_id").agg(F.sum("c").alias("s"))
    bit_on = F.col("c") * _AHASH_PX > F.col("s")
    bits = (
        px.join(m, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(bit_on & (F.col("dd") <= 32), F.expr("shiftleft(1L, dd - 1)"))
                .otherwise(F.lit(0).cast("long"))
            ).alias("lo"),
            F.sum(
                F.when(bit_on & (F.col("dd") > 32), F.expr("shiftleft(1L, dd - 33)"))
                .otherwise(F.lit(0).cast("long"))
            ).alias("hi"),
        )
    )
    bands = bits.select(
        "doc_id",
        "lo",
        "hi",
        F.explode(F.sequence(F.lit(0), F.lit(_AHASH_BANDS - 1))).alias("b"),
    ).withColumn(
        "bv",
        F.when(
            F.col("b") < 4, F.expr("shiftright(lo, 8 * b)").bitwiseAND(255)
        ).otherwise(F.expr("shiftright(hi, 8 * (b - 4))").bitwiseAND(255)),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lo").alias("alo"),
        F.col("hi").alias("ahi"),
        "b",
        "bv",
    )
    bb = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lo").alias("blo"),
        F.col("hi").alias("bhi"),
        "b",
        "bv",
    )
    cand = (
        a.join(bb, ["b", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "alo", "ahi", "doc_b", "blo", "bhi")
        .distinct()
    )
    ham = F.bit_count(F.col("alo").bitwiseXOR(F.col("blo"))) + F.bit_count(
        F.col("ahi").bitwiseXOR(F.col("bhi"))
    )
    return cand.select(
        "doc_a", "doc_b", ham.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= _AHASH_MAX_HAM)
