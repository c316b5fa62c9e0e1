"""Similarity search over the embeddings table (array<float>, 64-dim):
brute-force cosine top-k (exact baseline) and an LSH-bucketed ANN variant
(the scale path). Training-data pipeline extension (BASELINE.json).

Float discipline: embeddings are cast float->double *before* any
arithmetic on both the Spark and oracle sides — float32 accumulation
would diverge between engines at the 6th decimal.

Scale notes: brute-force broadcasts the (small) query set and streams the
corpus — one narrow pass + a per-query top-k (window on the bounded
candidate set). The ANN variant buckets by random-hyperplane signs so
each query only scans its bucket; hyperplanes are md5-derived, so
deterministic and oracle-checkable.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_polars_ai_spark.operators.base import (
    Op,
    RDZV_SHARDS,
    ROUND_RATIO,
    exact_floor_div,
    make_registrar,
    oracle_ratio_round,
    oracle_signed_ratio_round,
    ratio_round,
    session_memo,
    signed_ratio_round,
)
from my_polars_ai_spark.operators.dedup import _min_label_components, _undirected
from my_polars_ai_spark.sources.tables import load_table as _t

OPS: dict[str, Op] = {}
op = make_registrar(OPS)

N_QUERIES = 5  # vec_id < 5 are the query vectors
TOP_K = 3
# Multi-table LSH: L tables of k hyperplanes each. One k-bit table has
# P(match) = (1 - theta/pi)^k per neighbor — with k=8 that's ~0 unless the
# corpus is huge, so recall comes from the union over L independent
# tables: P = 1 - (1 - p^k)^L.
N_TABLES = 3
PLANES_PER_TABLE = 4


def _as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _cos(a, b) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _top_k(scored: DataFrame) -> DataFrame:
    """Each query's TOP_K neighbors of a (q_id, neighbor_id, cos) frame:
    cosine desc, ties to the lower id, cos rounded after ranking."""
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "neighbor_id", F.round("cos", ROUND_RATIO).alias("cos"), "rank")
    )


def _score_neighbors(pairs: DataFrame) -> DataFrame:
    """(q_id, neighbor_id, cos) of query-by-corpus rows (q_id, qv,
    vec_id, v), the query itself excluded."""
    return pairs.filter(F.col("vec_id") != F.col("q_id")).select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos(F.col("qv"), F.col("v")).alias("cos"),
    )


def _topk_sql(src: str, pad: str = "") -> str:
    """``), ranked AS (`` and the final SELECT: each query's TOP_K rows
    of ``src`` by cosine desc, ties to the lower id (the oracle side of
    _top_k), every line after the first indented by ``pad``."""
    return f"""), ranked AS (
    SELECT q_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
    FROM {src}
)
SELECT q_id, neighbor_id, round(cos, {ROUND_RATIO}) AS cos, rank
FROM ranked WHERE rank <= {TOP_K}""".replace("\n", "\n" + pad)


@op(
    "embedding_norms",
    oracle=f"""
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))),
                 {ROUND_RATIO}) AS l2_norm
    FROM embeddings
    """,
    tags=("similarity", "embedding"),
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norms + dimensionality — the sanity pass before any ANN build."""
    e = _t(spark, sf_dir, "embeddings")
    a = _as_double(F.col("embedding"))
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(_norm(a), ROUND_RATIO).alias("l2_norm"),
    )


@op(
    "cosine_topk_brute",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ), scored AS (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) AS cos
        FROM q CROSS JOIN embeddings e
        WHERE e.vec_id != q.q_id
    {_topk_sql("scored", "    ")}
    """,
    tags=("similarity", "knn"),
)
def cosine_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the query set, one streaming pass over
    the corpus, per-query top-k via window. The JVM-side zip_with/aggregate
    dot product keeps the hot loop out of Python entirely."""
    e = _t(spark, sf_dir, "embeddings")
    corpus = e.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    queries = (
        corpus.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"))
    )
    return _top_k(_score_neighbors(corpus.crossJoin(F.broadcast(queries))))


def _hyperplane_sign(v: Column, plane: int) -> Column:
    """Sign bit of v . h_plane where h_plane[i] = ±1 from md5 parity —
    deterministic pseudo-random hyperplanes, no stored model."""
    signed = F.zip_with(
        v,
        F.sequence(F.lit(0), F.size(v) - 1),
        lambda x, i: F.when(
            F.conv(F.substring(F.md5(F.concat(F.lit(f"{plane}:"), i.cast("string"))), 1, 2), 16, 10)
            .cast("int")
            % 2
            == 0,
            x,
        ).otherwise(-x),
    )
    return (F.aggregate(signed, F.lit(0.0), lambda acc, x: acc + x) > 0).cast("int")


def _lsh_buckets(corpus: DataFrame, *cols: str) -> DataFrame:
    """``cols`` plus (tbl, bucket) of a (vec_id, v) corpus: one row per
    vector per LSH table, the bucket being the table's
    PLANES_PER_TABLE hyperplane sign bits."""
    tables = []
    for t in range(N_TABLES):
        bucket = sum(
            (
                _hyperplane_sign(F.col("v"), t * PLANES_PER_TABLE + p) * (1 << p)
                for p in range(PLANES_PER_TABLE)
            ),
            F.lit(0),
        ).alias("bucket")
        tables.append(corpus.select(*cols, F.lit(t).alias("tbl"), bucket))
    bucketed = tables[0]
    for t_df in tables[1:]:
        bucketed = bucketed.unionByName(t_df)
    return bucketed


def _md5_codebook(corpus: DataFrame, n: int) -> list[tuple[int, list[float]]]:
    """The n corpus vectors ranked first by (md5(vec_id), vec_id), as
    (index, vector) pairs: a seeded sample collected driver-side, so a
    codebook is a pure function of the data on both engines. The top-n
    is TakeOrderedAndProject, bounded by n, not a global sort."""
    seeds = (
        corpus.withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(n)
        .collect()
    )
    seeds = sorted(seeds, key=lambda r: (r.h, r.vec_id))
    return [(i, list(r.v)) for i, r in enumerate(seeds)]


def _dist_to(lv: Column) -> Column:
    """Euclidean distance of ``v`` to ``lv``, rounded at ROUND_RATIO so
    ulp drift cannot flip an argmin."""
    return F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(F.col("v"), lv, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
        ROUND_RATIO,
    )


def _sign_expr_sql(plane: int) -> str:
    """DuckDB twin of _hyperplane_sign: sign bit of v . h_plane."""
    return (
        "(list_sum(list_transform(range(1, len(v) + 1), i -> "
        f"CASE WHEN ('0x' || substr(md5('{plane}:' || (i - 1)), 1, 2))::BIGINT % 2 = 0 "
        "THEN v[i] ELSE -v[i] END)) > 0)::INT"
    )


def _bucket_expr_sql(table: int) -> str:
    return " + ".join(
        f"({_sign_expr_sql(table * PLANES_PER_TABLE + p)}) * {1 << p}"
        for p in range(PLANES_PER_TABLE)
    )


# The float corpus and its (tbl, bucket) rows: the oracle side of
# _lsh_buckets.
_LSH_BUCKETS_CTES = f"""
WITH corpus AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), buckets AS (
    SELECT vec_id, v, t.tbl,
           CASE t.tbl
                WHEN 0 THEN {_bucket_expr_sql(0)}
                WHEN 1 THEN {_bucket_expr_sql(1)}
                ELSE {_bucket_expr_sql(2)}
           END AS bucket
    FROM corpus CROSS JOIN (SELECT unnest(range({N_TABLES})) AS tbl) t
)"""

_ANN_ORACLE = f"""{_LSH_BUCKETS_CTES}, q AS (
    SELECT vec_id AS q_id, tbl, bucket FROM buckets WHERE vec_id < {N_QUERIES}
), cand AS (
    SELECT DISTINCT q.q_id, b.vec_id AS neighbor_id
    FROM buckets b
    JOIN q ON b.tbl = q.tbl AND b.bucket = q.bucket AND b.vec_id != q.q_id
), scored AS (
    SELECT c.q_id, c.neighbor_id,
           list_cosine_similarity(ca.v, cb.v) AS cos
    FROM cand c
    JOIN corpus ca ON ca.vec_id = c.q_id
    JOIN corpus cb ON cb.vec_id = c.neighbor_id
{_topk_sql("scored")}
"""


@op(
    "ann_lsh_cosine",
    oracle=_ANN_ORACLE,  # md5-derived hyperplanes => even the ANN is oracle-checked
    tags=("similarity", "ann", "lsh"),
)
def ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via multi-table random-hyperplane LSH: 3 tables x 4
    md5-derived hyperplanes; a corpus vector is a candidate if it lands in
    the query's bucket in ANY table, then exact cosine rerank over the
    (small) candidate union. At 100 TB the per-table bucket join replaces
    the full cross product; recall is tuned by (tables, planes), not by
    scanning more."""
    e = _t(spark, sf_dir, "embeddings")
    # cached: the corpus feeds every LSH table projection plus the query set
    corpus = e.select("vec_id", _as_double(F.col("embedding")).alias("v")).cache()
    # (vec_id, v, table, bucket) — one row per table per vector.
    bucketed = _lsh_buckets(corpus, "vec_id", "v")
    queries = (
        bucketed.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), "tbl", "bucket")
    )
    candidates = (
        bucketed.join(F.broadcast(queries), ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "qv", "vec_id", "v")
        .dropDuplicates(["q_id", "vec_id"])
    )
    scored = candidates.select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos(F.col("qv"), F.col("v")).alias("cos"),
    )
    return _top_k(scored)


N_CELLS = 16  # IVF coarse-quantizer cells
N_PROBE = 4   # cells each query probes (recall 0.60-0.67 vs brute on this corpus)

def _ivf_ctes(
    corpus: str = "corpus", seeds: str = "seeds", assigned: str = "assigned"
) -> str:
    """The IVF coarse-quantizer oracle CTE prefix (raw corpus ->
    md5-seeded cell codebook -> rounded-cosine argmax assignment), with
    injectable CTE names for composite consumers (`ann_index_manifest`)
    — ONE definition shared with _IVF_ORACLE."""
    return f"""{corpus} AS MATERIALIZED (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), {seeds} AS MATERIALIZED (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
           v AS cv
    FROM {corpus} QUALIFY cell < {N_CELLS}
), {assigned} AS MATERIALIZED (
    SELECT vec_id, v, cell FROM (
        SELECT c.vec_id, c.v, s.cell,
               row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY round(list_cosine_similarity(c.v, s.cv), {ROUND_RATIO}) DESC,
                            s.cell) AS arank
        FROM {corpus} c CROSS JOIN {seeds} s
    ) WHERE arank = 1
)"""


_IVF_ORACLE = f"""
WITH {_ivf_ctes()}, probed AS (
    SELECT q_id, cell FROM (
        SELECT c.vec_id AS q_id, s.cell,
               row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY round(list_cosine_similarity(c.v, s.cv), {ROUND_RATIO}) DESC,
                            s.cell) AS prank
        FROM corpus c CROSS JOIN seeds s WHERE c.vec_id < {N_QUERIES}
    ) WHERE prank <= {N_PROBE}
), qv AS (
    SELECT vec_id AS q_id, v AS qv FROM corpus WHERE vec_id < {N_QUERIES}
), scored AS (
    SELECT p.q_id, a.vec_id AS neighbor_id,
           list_cosine_similarity(q.qv, a.v) AS cos
    FROM probed p JOIN assigned a USING (cell) JOIN qv q USING (q_id)
    WHERE a.vec_id != p.q_id
{_topk_sql("scored")}
"""


def _ivf_ranked_cells(
    spark: SparkSession, sf_dir: str
) -> "tuple[DataFrame, Column]":
    """The IVF coarse quantizer's Spark core, shared by
    `ivf_cosine_topk` and `ann_index_manifest`: the raw corpus frame
    and the ranked-cells projection column (cells sorted by rounded
    cosine desc, ties to the lower cell id — identical to the oracle's
    _ivf_ctes assignment).

    The codebook is the top-N_CELLS rows by (md5, vec_id) —
    TakeOrderedAndProject, not a global sort; bounded by the constant,
    not the data — materialized driver-side exactly like
    KMeansModel.clusterCenters() and baked into a NARROW projection,
    so cell assignment adds zero shuffles."""
    e = _t(spark, sf_dir, "embeddings")
    corpus = e.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    codebook = _md5_codebook(corpus, N_CELLS)

    def _lit_vec(values: list[float]) -> Column:
        return F.array(*[F.lit(float(x)) for x in values])

    def _cos_to(cv: list[float]) -> Column:
        lv = _lit_vec(cv)
        return F.round(_cos(F.col("v"), lv), ROUND_RATIO)

    # argmax/top-N_PROBE over the literal codebook: array_sort on
    # (-cos, cell) structs — a pure projection, no join, no shuffle
    ranked_cells = F.array_sort(
        F.array(
            *[
                F.struct((-_cos_to(cv)).alias("neg_cos"), F.lit(cell).alias("cell"))
                for cell, cv in codebook
            ]
        )
    )
    return corpus, ranked_cells


@op(
    "ivf_cosine_topk",
    oracle=_IVF_ORACLE,  # deterministic md5-seeded codebook => fully oracle-checked
    tags=("similarity", "ann", "ivf"),
)
def ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN with a deterministic coarse quantizer: the codebook is
    the N_CELLS corpus vectors ranked first by md5(vec_id) (a seeded
    sample — no trained k-means state, so the whole operator is a pure
    function of the data and oracle-checkable). Queries probe their
    N_PROBE nearest cells and rerank exactly within them.

    100 TB shape: the codebook is a bounded N_CELLS-row artifact
    (materialized driver-side exactly like KMeansModel.clusterCenters())
    baked into a NARROW projection — cell assignment adds zero shuffles;
    the corpus would be written partitioned by cell so a query reads
    N_PROBE/N_CELLS of the data. Cosines are rounded before the argmax so
    engine ulp drift can't flip cell assignment (ties fall to the lower
    cell id on both sides). Round 13: consumes the session-memoized
    `_ann_index_frames` (same `_ivf_ranked_cells` artifacts), so the
    whole ANN family resolves ONE codebook collect per session."""
    _, corpus, ranked_cells, _, _ = _ann_index_frames(spark, sf_dir)
    assigned = corpus.withColumn("cell", ranked_cells[0]["cell"])

    probed = (
        assigned.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.explode(F.slice(ranked_cells, 1, N_PROBE)["cell"]).alias("cell"),
        )
    )
    return _top_k(_score_neighbors(assigned.join(F.broadcast(probed), "cell")))


KM_K = 4  # Lloyd's-step clusters


# The float corpus and the KM_K md5-seeded centroids: the oracle side of
# _md5_codebook.
_KM_SEEDS_CTES = f"""
WITH corpus AS MATERIALIZED (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), seeds AS MATERIALIZED (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cluster,
           v AS cv
    FROM corpus QUALIFY cluster < {KM_K}
)"""

_KMEANS_STEP_ORACLE = f"""{_KM_SEEDS_CTES}, assigned AS (
    SELECT vec_id, v, cluster FROM (
        SELECT c.vec_id, c.v, s.cluster,
               row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY round(list_distance(c.v, s.cv), {ROUND_RATIO}) ASC,
                            s.cluster) AS arank
        FROM corpus c CROSS JOIN seeds s
    ) WHERE arank = 1
), pos AS (
    SELECT cluster, generate_subscripts(v, 1) AS dim, unnest(v) AS x
    FROM assigned
)
SELECT CAST(cluster AS INT) AS cluster, CAST(dim AS INT) AS dim,
       CAST(sum(CAST(CAST(x AS DECIMAL(20,8)) * 100000000 AS DECIMAL(38,0)))
            AS BIGINT) AS sum_micro8,
       CAST(count(*) AS BIGINT) AS n
FROM pos GROUP BY cluster, dim
"""


@op(
    "kmeans_lloyd_step",
    oracle=_KMEANS_STEP_ORACLE,
    tags=("ml", "cluster", "similarity"),
)
def kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd's iteration of k-means (K=4) as pure relational
    algebra — the oracle-checkable twin of `kmeans_segments` (which
    exhibits the pyspark.ml library integration and stays rows-only
    because trained cluster ids are implementation-specific). Seeded
    init: the K corpus vectors ranked first by md5(vec_id) — the
    `ivf_cosine_topk` codebook pattern, a pure function of the data,
    so BOTH engines derive identical centroids. Assignment is a NARROW
    projection against the K literal centroid vectors (euclidean
    distance rounded before the argmin so engine ulp drift can't flip
    assignment; ties fall to the lower cluster id on both sides); the
    update step is `label_centroids`' exact integer accumulation keyed
    by the ASSIGNED cluster: per-dimension DECIMAL(20,8) 1e-8-unit
    sums + member counts, which hash identically at any partitioning.
    The caller derives new centroids as sum_micro8/(n*1e8) and
    iterates.

    100 TB shape: the codebook is a bounded K-row driver-side artifact
    (= KMeansModel.clusterCenters()); assignment adds ZERO shuffles;
    the only exchange is the (cluster, dim)-keyed hash aggregation
    with map-side partial agg (state = K x 64 rows per task)."""
    e = _t(spark, sf_dir, "embeddings")
    corpus = e.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    codebook = _md5_codebook(corpus, KM_K)

    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    _dist_to(F.array(*[F.lit(float(x)) for x in cv])).alias("d"),
                    F.lit(cl).alias("cluster"),
                )
                for cl, cv in codebook
            ]
        )
    )
    assigned = corpus.withColumn("cluster", ranked[0]["cluster"])
    exploded = assigned.select("cluster", F.posexplode("v").alias("p", "x"))
    return exploded.groupBy(
        F.col("cluster").cast("int").alias("cluster"),
        (F.col("p") + 1).cast("int").alias("dim"),
    ).agg(
        F.sum(
            (F.col("x").cast("decimal(20,8)") * 100000000).cast("decimal(38,0)")
        )
        .cast("long")
        .alias("sum_micro8"),
        F.count(F.lit(1)).alias("n"),
    )


EMB_DEDUP_THRESHOLD = 0.3  # this synthetic corpus has no true near-dups
# (max pairwise cosine ~0.51); 0.3 exercises the full pipeline with a
# real result set. On a production corpus set ~0.95+.


_EMB_DEDUP_ORACLE = f"""{_LSH_BUCKETS_CTES}, cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM buckets a
    JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b,
       round(list_cosine_similarity(ca.v, cb.v), {ROUND_RATIO}) AS cos
FROM cand
JOIN corpus ca ON ca.vec_id = vec_a
JOIN corpus cb ON cb.vec_id = vec_b
WHERE list_cosine_similarity(ca.v, cb.v) >= {EMB_DEDUP_THRESHOLD}
"""


@op(
    "dedup_embedding_cosine",
    oracle=_EMB_DEDUP_ORACLE,
    tags=("dedup", "similarity", "embedding", "lsh"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs — the semantic member of the dedup
    family: candidate pairs from the same multi-table hyperplane-LSH
    buckets as ann_lsh_cosine (bucket self-join, never the vec^2 cross
    product), then exact cosine verify at >= EMB_DEDUP_THRESHOLD.
    Recall contract: P(candidate | angle theta) = 1-(1-(1-theta/pi)^k)^L
    with k=4 planes, L=3 tables — tune (k, L) per corpus like the MinHash
    banding. Threshold is 0.3 here because the synthetic corpus has no
    true near-dups (max pairwise cosine ~0.51); production near-dup
    detection would use ~0.95+ where LSH recall is also far higher."""
    e = _t(spark, sf_dir, "embeddings")
    corpus = e.select("vec_id", _as_double(F.col("embedding")).alias("v")).cache()
    bucketed = _lsh_buckets(corpus, "vec_id")
    bucketed = bucketed.cache()
    a = bucketed.select(F.col("vec_id").alias("vec_a"), "tbl", "bucket")
    b = bucketed.select(F.col("vec_id").alias("vec_b"), "tbl", "bucket")
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    ca = corpus.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    cb = corpus.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    paired = cand.join(ca, "vec_a").join(cb, "vec_b")
    cos = _cos(F.col("va"), F.col("vb"))
    return (
        paired.withColumn("cos", cos)
        .filter(F.col("cos") >= EMB_DEDUP_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cos", ROUND_RATIO).alias("cos"))
    )


@op(
    "label_centroids",
    oracle="""
    WITH pos AS (
        SELECT label,
               generate_subscripts(embedding, 1) AS dim,
               unnest(embedding) AS x
        FROM embeddings
    )
    SELECT label, CAST(dim AS INT) AS dim,
           CAST(sum(CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,8)) * 100000000
                         AS DECIMAL(38,0))) AS BIGINT) AS sum_micro8,
           CAST(count(*) AS BIGINT) AS n
    FROM pos
    GROUP BY label, dim
    """,
    tags=("similarity", "embedding", "agg", "pipeline"),
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid accumulation over the embedding column — the
    distributed vector-aggregation shape behind class prototypes, k-means
    update steps, and cluster summaries in training-data pipelines.
    posexplode fans each vector into (label, dim, x) rows; ONE hash
    aggregation produces exact per-dimension sums (map-side partial
    aggregation applies, state per task = labels x 64 dims — constant).
    Components accumulate as sign-safe integer 1e-8 units (float ->
    double is exact, double -> DECIMAL(20,8) rounds identically on both
    engines), so the result hashes identically at any partitioning; the
    centroid mean is sum_micro8 / (n * 1e8), derived losslessly by the
    caller."""
    e = _t(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode(_as_double(F.col("embedding"))).alias("p", "x")
    )
    return (
        exploded.groupBy("label", (F.col("p") + 1).cast("int").alias("dim"))
        .agg(
            F.sum(
                (F.col("x").cast("decimal(20,8)") * 100000000).cast("decimal(38,0)")
            )
            .cast("long")
            .alias("sum_micro8"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# Product quantization: M subspaces x SUB dims, K centroids per subspace.
# Codebook = subvectors of the first K corpus vectors ranked by
# md5('pq:'||vec_id) — a seeded sample, so the operator is a pure
# function of the data (the same determinism trick as ivf_cosine_topk).
PQ_M = 8
PQ_SUB = 8
PQ_K = 16

def _pq_ctes(
    corpus: str = "corpus",
    seeds: str = "seeds",
    cdist: str = "cdist",
    codes: str = "codes",
) -> str:
    """The PQ pipeline's oracle CTE prefix (normalized corpus ->
    md5-seeded codebook -> rounded subspace distances -> argmin codes),
    with injectable CTE names so a composite consumer
    (`ann_index_manifest`) can embed it next to the IVF prefix without
    name collisions — ONE definition, like dedup's _MINHASH_CTES."""
    return f"""{corpus} AS MATERIALIZED (
    -- L2-normalize first: min L2 distance == max cosine on the unit
    -- sphere, aligning PQ's metric with the cosine rankers
    SELECT vec_id, list_transform(v0, x -> x / nrm) AS v FROM (
        SELECT vec_id, embedding::DOUBLE[] AS v0,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y))) AS nrm
        FROM embeddings
    )
), {seeds} AS MATERIALIZED (
    SELECT row_number() OVER (ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS k,
           v AS cv
    FROM {corpus} QUALIFY k < {PQ_K}
), {cdist} AS MATERIALIZED (
    SELECT c.vec_id, m.m, s.k,
           round(list_sum(list_transform(range(1, {PQ_SUB} + 1),
                 i -> (c.v[m.m * {PQ_SUB} + i] - s.cv[m.m * {PQ_SUB} + i]) ^ 2)),
                 {ROUND_RATIO}) AS d2
    FROM {corpus} c
    CROSS JOIN (SELECT unnest(range({PQ_M})) AS m) m
    CROSS JOIN {seeds} s
), {codes} AS (
    SELECT vec_id, m, k FROM (
        SELECT vec_id, m, k,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS r
        FROM {cdist}
    ) WHERE r = 1
)"""


_PQ_ORACLE = f"""
WITH {_pq_ctes()}, lut AS (
    SELECT vec_id AS q_id, m, k, d2 FROM cdist WHERE vec_id < {N_QUERIES}
), scored AS (
    SELECT l.q_id, c.vec_id AS neighbor_id,
           sum(CAST(l.d2 AS DECIMAL(18,6))) AS approx_dec
    FROM codes c
    JOIN lut l ON l.m = c.m AND l.k = c.k
    WHERE c.vec_id != l.q_id
    GROUP BY 1, 2
), shortlist AS (
    SELECT q_id, neighbor_id FROM (
        SELECT q_id, neighbor_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY approx_dec, neighbor_id) AS arank
        FROM scored
    ) WHERE arank <= {{PQ_SHORTLIST}}
), exact AS (
    SELECT s.q_id, s.neighbor_id, list_cosine_similarity(cq.v, cn.v) AS cos
    FROM shortlist s
    JOIN corpus cq ON cq.vec_id = s.q_id
    JOIN corpus cn ON cn.vec_id = s.neighbor_id
{_topk_sql("exact")}
"""
PQ_SHORTLIST = 64  # ADC shortlist size fed to the exact rerank


def _pq_norm_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalized corpus for the PQ family: min L2 == max cosine on
    the unit sphere, so PQ's metric agrees with the cosine rankers
    (raw-L2 PQ measured 0.2 recall vs cosine brute; normalized ~0.7+
    with the same codebook). cache(): feeds multiple consumers (seed
    sample, subspace distances, exact rerank sides)."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select("vec_id", _as_double(F.col("embedding")).alias("v0"))
        .withColumn("nrm", _norm(F.col("v0")))
        .select("vec_id", F.transform("v0", lambda x: x / F.col("nrm")).alias("v"))
        .cache()
    )


def _pq_cdist(spark: SparkSession, corpus: DataFrame) -> DataFrame:
    """Rounded subspace distance of every vector to every PQ centroid:
    (vec_id, m, k, d2). The md5-seeded codebook is a bounded M*K-row
    broadcast (the KMeansModel.clusterCenters() analogue); distances
    round at scale 6 so ulp drift can't flip an argmin."""
    seeds = (
        corpus.withColumn("h", F.md5(F.concat(F.lit("pq:"), F.col("vec_id").cast("string"))))
        .orderBy("h", "vec_id")
        .limit(PQ_K)
        .collect()
    )
    seeds = sorted(seeds, key=lambda r: (r.h, r.vec_id))
    codebook = spark.createDataFrame(
        [
            (m, k, [float(x) for x in r.v[m * PQ_SUB : (m + 1) * PQ_SUB]])
            for k, r in enumerate(seeds)
            for m in range(PQ_M)
        ],
        "m INT, k INT, csub ARRAY<DOUBLE>",
    )
    subs = (
        corpus.select(
            "vec_id",
            "v",
            F.explode(F.array(*[F.lit(m) for m in range(PQ_M)])).alias("m"),
        )
        .withColumn("vsub", F.expr(f"slice(v, m * {PQ_SUB} + 1, {PQ_SUB})"))
        .drop("v")
    )
    d2 = F.round(
        F.aggregate(
            F.zip_with(F.col("vsub"), F.col("csub"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        ROUND_RATIO,
    )
    return subs.join(F.broadcast(codebook), "m").select("vec_id", "m", "k", d2.alias("d2"))
_PQ_ORACLE = _PQ_ORACLE.replace("{PQ_SHORTLIST}", str(PQ_SHORTLIST))


def _shortlist_rerank(scored: DataFrame, corpus: DataFrame) -> DataFrame:
    """The PQ rerank: each query's PQ_SHORTLIST neighbors by ADC total
    ``approx_dec`` (ties to the lower id) fetch their real ``corpus``
    vectors, and the exact cosine picks the TOP_K."""
    wa = Window.partitionBy("q_id").orderBy(F.asc("approx_dec"), F.asc("neighbor_id"))
    shortlist = (
        scored.withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= PQ_SHORTLIST)
        .select("q_id", "neighbor_id")
    )
    cq = corpus.select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"))
    cn = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"))
    exact = (
        shortlist.join(F.broadcast(cq.filter(F.col("q_id") < N_QUERIES)), "q_id")
        .join(cn, "neighbor_id")
        .select(
            "q_id",
            "neighbor_id",
            _cos(F.col("qv"), F.col("nv")).alias("cos"),
        )
    )
    return _top_k(exact)


def _pq_codes(cdist: DataFrame) -> DataFrame:
    """(vec_id, m, k) PQ code table: argmin centroid per (vector,
    subspace) — min_by over a (d2, k) struct, map-side combinable,
    ties to the lower k. Shared by `pq_adc_topk`,
    `pq_distortion_report`-style consumers and `ann_index_manifest`."""
    return cdist.groupBy("vec_id", "m").agg(
        F.min_by("k", F.struct("d2", "k")).alias("k")
    )


@op(
    "pq_adc_topk",
    oracle=_PQ_ORACLE,  # deterministic md5-seeded codebook => fully oracle-checked
    tags=("similarity", "ann", "pq"),
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation —
    the third ANN family next to LSH buckets and IVF cells. Each vector
    compresses to PQ_M one-byte codes (argmin centroid per subspace);
    a query precomputes its PQ_M x PQ_K distance LUT once and every
    corpus vector is scored by summing LUT lookups on its CODES — the
    64-double vector is never touched during the scan. The ADC pass
    keeps a PQ_SHORTLIST-deep shortlist per query; only those rows
    fetch their real vectors for the exact-cosine rerank (the standard
    production PQ pipeline: compressed scan -> tiny exact rerank).

    100 TB shape: the codebook is a broadcast M x K-row table (a bounded
    artifact, like KMeansModel.clusterCenters()); encoding is one
    broadcast join + a map-side-combined argmin per (vector, subspace);
    the scored scan reads M bytes per vector instead of the embedding
    column (~64x less IO with this geometry); ADC is an equi-join of
    codes against the tiny LUT on (subspace, code). Distances round at
    scale 6 before both the argmin and the LUT (ulp drift can't flip a
    code), and the ADC total sums DECIMAL(18,6) terms so it's exact and
    order-independent on both engines. (A first cut inlined the
    codebook as 128 literal-array expressions — a ~100k-node Catalyst
    tree that cost ~7s of driver-side analysis per call; the relational
    form is 10x faster end-to-end and is also the oracle's shape.)
    Round 13: consumes the session-memoized `_ann_index_frames`
    (identical `_pq_norm_corpus`/`_pq_cdist` artifacts), so repeated
    calls share ONE normalized-corpus cache fill and codebook collect
    instead of re-registering fresh lineage per call — the documented
    bimodality source in this op's isolated min-of-5.

    r16 (guide §2.4): the code table is decoded from the CACHED
    manifest's packed pq_codes (posexplode(split(...)), the serve op's
    shape) instead of re-running the cdist argmin chain per action —
    the manifest row IS the stored code artifact (identical by
    construction: its csv is `_pq_codes` packed in subspace order), so
    this removes a corpus x M explode, an M x K broadcast join, and
    the argmin exchange from every warm call. Only the query-side LUT
    (N_QUERIES x M x K, filter-pruned before the explode) still reads
    cdist."""
    manifest, _, _, corpus, cdist = _ann_index_frames(spark, sf_dir)
    codes = (
        manifest.select(
            "vec_id", F.posexplode(F.split("pq_codes", ",")).alias("m", "k_str")
        )
        .select("vec_id", "m", F.col("k_str").cast("int").alias("k"))
    )
    lut = cdist.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "m", "k", "d2"
    )
    scored = (
        codes.join(F.broadcast(lut), ["m", "k"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum(F.col("d2").cast("decimal(18,6)")).alias("approx_dec"))
    )
    return _shortlist_rerank(scored, corpus)


@op(
    "embedding_dim_stats",
    oracle=f"""
    WITH v AS (
        SELECT generate_subscripts(embedding, 1) AS dim,
               CAST(CAST(embedding[generate_subscripts(embedding, 1)]
                         AS DECIMAL(28,6)) * 1000000 AS HUGEINT) AS vm
        FROM embeddings
    ), s AS (
        SELECT dim, CAST(count(*) AS HUGEINT) AS n,
               sum(vm) AS sv, sum(vm*vm) AS svv
        FROM v GROUP BY dim
    )
    SELECT CAST(dim AS INTEGER) AS dim, CAST(n AS BIGINT) AS n,
           CAST((CASE WHEN sv < 0 THEN -1 ELSE 1 END)
                * ((2*{10**6}*abs(sv) + n*1000000)
                   // (2*n*1000000)) AS DOUBLE) / {10**6} AS mean,
           CAST((2*{10**6}*(n*svv - sv*sv) + n*n*1000000000000)
                // (2*n*n*1000000000000) AS DOUBLE) / {10**6} AS variance
    FROM s
    """,
    tags=("similarity", "stats", "ml"),
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance of the embedding corpus — the
    normalization statistics (whitening, PCA preprocessing, drift
    monitoring) every vector pipeline computes. posexplode fans each
    vector into (dim, value) — a 64x narrow multiplier, NOT a shuffle
    of vectors — and both moments aggregate map-side per dim. Values
    round ONCE to integer micro-units (float32->decimal is
    deterministic on both engines; no dyadic double lands on a 1e-7
    tie), then mean is the sign-split exact rational and variance the
    integer identity (n*Svv - Sv^2)/(n^2 * 1e12). 64 output rows at
    any corpus size."""
    e = _t(spark, sf_dir, "embeddings")
    v = e.select(F.posexplode("embedding").alias("pos", "val")).select(
        (F.col("pos") + 1).alias("dim"),   # 1-based like generate_subscripts
        (F.col("val").cast("decimal(28,6)") * 1000000)
        .cast("decimal(38,0)").alias("vm"),
    )
    s = v.groupBy("dim").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("vm").alias("sv"),
        F.sum(F.col("vm") * F.col("vm")).alias("svv"),
    )
    from my_polars_ai_spark.operators.base import signed_ratio_round

    p = 10**6
    mean = signed_ratio_round(F.col("sv"), F.col("n") * 1000000)
    var_num = F.col("n") * F.col("svv") - F.col("sv") * F.col("sv")
    var_den = F.col("n") * F.col("n") * F.lit(10**12).cast("decimal(38,0)")
    variance = exact_floor_div(2 * p * var_num + var_den, 2 * var_den).cast("double") / p
    return s.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("n").cast("long").alias("n"),
        mean.alias("mean"),
        variance.alias("variance"),
    )


def _int8_vm(spark: SparkSession, sf_dir: str) -> "tuple[DataFrame, DataFrame]":
    """The int8 quantizer's Spark core, shared by
    `int8_quantize_embeddings` and `ann_index_manifest`: the exact
    micro-unit value table ``v`` (vec_id, vm) and the per-vector
    absmax scale table ``m`` (vec_id, maxabs)."""
    e = _t(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id",
        F.posexplode("embedding").alias("pos", "val"),
    ).select(
        "vec_id",
        # pure IEEE-double micro conversion (sign-split floor(x*1e6+0.5)):
        # every step is correctly rounded and therefore engine-identical,
        # unlike double->DECIMAL casts, where Spark rounds the shortest
        # decimal repr and DuckDB the binary value (the base.py seam —
        # ratio-rounded aggregates absorb the odd +-1 micro, raw
        # quantization codes do not)
        (F.when(F.col("val") < 0, -1).otherwise(1)
         * F.floor(F.abs(F.col("val").cast("double")) * 1000000 + F.lit(0.5)))
        .cast("decimal(38,0)").alias("vm"),
    )
    m = v.groupBy("vec_id").agg(F.max(F.abs("vm")).alias("maxabs"))
    return v, m


def _int8_vm_ctes(v: str = "v", m: str = "m") -> str:
    """The int8 quantizer's oracle CTE prefix (exact micro-unit values
    and the per-vector absmax scale), with injectable CTE names for
    composite consumers (`ann_index_manifest`) — ONE definition shared
    with int8_quantize_embeddings' oracle."""
    return f"""{v} AS (
        SELECT vec_id,
               (CASE WHEN embedding[i] < 0 THEN -1 ELSE 1 END)
               * CAST(floor(abs(CAST(embedding[i] AS DOUBLE)) * 1000000 + 0.5)
                      AS HUGEINT) AS vm
        FROM (SELECT vec_id, embedding,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings)
    ), {m} AS (
        SELECT vec_id, max(abs(vm)) AS maxabs FROM {v} GROUP BY vec_id
    )"""


@op(
    "int8_quantize_embeddings",
    oracle=f"""
    WITH {_int8_vm_ctes()}, q AS (
        SELECT v.vec_id,
               (CASE WHEN v.vm < 0 THEN -1 ELSE 1 END)
               * ((2*abs(v.vm)*127 + m.maxabs) // (2*m.maxabs)) AS qv
        FROM v JOIN m USING (vec_id)
        WHERE m.maxabs > 0
    )
    SELECT vec_id,
           CAST(any_value(m2.maxabs) AS BIGINT) AS maxabs_micro,
           CAST(sum(qv) AS BIGINT) AS q_sum,
           CAST(min(qv) AS BIGINT) AS q_min,
           CAST(max(qv) AS BIGINT) AS q_max
    FROM q JOIN m m2 USING (vec_id)
    GROUP BY vec_id
    """,
    tags=("similarity", "quantize", "ml"),
)
def int8_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding corpus — the
    serving-side compression every vector store applies (absmax
    scaling: q_i = round(v_i * 127 / maxabs), scale recovered from
    maxabs). The rounding IS the operator, so it's done in exact
    integer arithmetic (half-away-from-zero rational on micro-units) —
    the quantized values, not just their stats, hash-match across
    engines; q_sum/min/max summarize the codes (q_min/q_max in
    [-127, 127] proves no clipping). Per-vector maxabs is a grouped
    max; quantization is a narrow map — no shuffle beyond the vec_id
    grouping."""
    v, m = _int8_vm(spark, sf_dir)
    sign = F.when(F.col("vm") < 0, -1).otherwise(1)
    qv = sign * exact_floor_div(
        2 * F.abs(F.col("vm")) * 127 + F.col("maxabs"), 2 * F.col("maxabs")
    )
    q = (
        v.join(m, "vec_id")
        .filter(F.col("maxabs") > 0)
        .select("vec_id", "maxabs", qv.alias("qv"))
    )
    return q.groupBy("vec_id").agg(
        F.any_value("maxabs").cast("long").alias("maxabs_micro"),
        F.sum("qv").cast("long").alias("q_sum"),
        F.min("qv").cast("long").alias("q_min"),
        F.max("qv").cast("long").alias("q_max"),
    )


_ANN_INDEX_SQL = f"""
    WITH {_ivf_ctes("ivf_corpus", "ivf_seeds", "ivf_assigned")},
    {_pq_ctes("pq_corpus", "pq_seeds", "pq_cdist", "pq_codes")},
    {_int8_vm_ctes("vm_v", "vm_m")},
    packed AS (
        SELECT vec_id,
               string_agg(CAST(k AS VARCHAR), ',' ORDER BY m) AS pq_codes_csv,
               CAST(count(*) AS INTEGER) AS n_subspaces
        FROM pq_codes GROUP BY vec_id
    )
    SELECT a.vec_id,
           CAST(a.cell AS INTEGER) AS cell,
           p.n_subspaces,
           p.pq_codes_csv AS pq_codes,
           CAST(m.maxabs AS BIGINT) AS maxabs_micro,
           CAST(('0x' || substr(md5('vec:' || CAST(a.vec_id AS VARCHAR)), 1, 15))::BIGINT
                % {RDZV_SHARDS} AS INTEGER) AS shard,
           md5(CAST(a.vec_id AS VARCHAR) || '|' || CAST(a.cell AS VARCHAR)
               || '|' || p.pq_codes_csv || '|' || CAST(m.maxabs AS VARCHAR))
               AS record_md5
    FROM ivf_assigned a JOIN packed p USING (vec_id) JOIN vm_m m USING (vec_id)
"""


@session_memo
def _ann_index_frames(spark: SparkSession, sf_dir: str):
    """ANN index family frames: (manifest, corpus, ranked_cells,
    ncorpus, cdist), session-memoized. `ann_index_manifest` ships the
    first; `ann_manifest_query_topk` consumes the manifest AND reuses
    the other frames for query routing / the LUT. The memo means the
    eager driver-side codebook materializations (the N_CELLS IVF seed
    collect in `_ivf_ranked_cells`, the PQ_K seed collect in
    `_pq_cdist`) run ONCE per session, and — the round-12 adjudicated
    cost — the serve op no longer re-executes the whole index build
    in-plan: the vec-grain manifest (cell assignment + packed codes,
    ~corpus x M bytes — the artifact production writes to storage and
    serving reads back; NOT the corpus x M x K cdist frame, which
    stays lazy) is cached once and every consumer resolves the same
    cache entry.

    Documented trade-off (r13 advice): a lone IVF or PQ call in a
    fresh session pays the FULL family build (both driver-side seed
    collects, the _int8_vm join lineage, the manifest cache
    registration) even though it uses one sub-family — the warm memo
    amortizes it for every later sibling. If cold-start latency of a
    single-sub-family session ever matters, split the memo into
    lazily-built IVF-side and PQ-side entries; until then one shared
    entry keeps the serve path and the round-trip test simple."""
    from my_polars_ai_spark.operators.dedup import portable_hash60

    corpus, ranked_cells = _ivf_ranked_cells(spark, sf_dir)
    ncorpus = _pq_norm_corpus(spark, sf_dir)
    cdist = _pq_cdist(spark, ncorpus)
    assigned = corpus.select(
        "vec_id", ranked_cells[0]["cell"].cast("int").alias("cell")
    )
    codes = _pq_codes(cdist)
    packed = codes.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "k"))),
                lambda s: s.getField("k").cast("string"),
            ),
            ",",
        ).alias("pq_codes"),
        F.count(F.lit(1)).cast("int").alias("n_subspaces"),
    )
    _, m = _int8_vm(spark, sf_dir)
    joined = assigned.join(packed, "vec_id").join(
        m.select("vec_id", F.col("maxabs").cast("long").alias("maxabs_micro")),
        "vec_id",
    )
    manifest = joined.select(
        "vec_id",
        "cell",
        "n_subspaces",
        "pq_codes",
        "maxabs_micro",
        (
            portable_hash60(F.concat(F.lit("vec:"), F.col("vec_id").cast("string")))
            % RDZV_SHARDS
        )
        .cast("int")
        .alias("shard"),
        F.md5(
            F.concat_ws(
                "|",
                F.col("vec_id").cast("string"),
                F.col("cell").cast("string"),
                F.col("pq_codes"),
                F.col("maxabs_micro").cast("string"),
            )
        ).alias("record_md5"),
    ).cache()
    # ncorpus first: a hit re-arms the marks in this order, so after an
    # external clearCache the manifest's refill reads the ncorpus cache.
    return (manifest, corpus, ranked_cells, ncorpus, cdist), (ncorpus, manifest)


@op(
    "ann_index_manifest",
    oracle=_ANN_INDEX_SQL,
    tags=("similarity", "ann", "pipeline", "report"),
)
def ann_index_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SHIP step of the ANN family — one packed index record per
    corpus vector, composing the three existing artifact definitions
    verbatim: the IVF coarse cell (`_ivf_ranked_cells`, what partition
    the vector lives in), the PQ code string (`_pq_codes`, the
    compressed scan representation ADC reads), and the int8 absmax
    scale (`_int8_vm`, the serving-side dequantization constant) —
    plus a deterministic placement shard and an md5 record checksum, the
    same detect -> audit -> ship ladder `triplet_export_manifest` and
    `decontaminated_manifest` close for their families. A vector store
    loader can build the whole IVF-PQ index from this table without
    touching the raw embedding column.

    Scale shape: both codebooks are bounded driver-side artifacts
    (N_CELLS rows / M x K rows, the KMeansModel.clusterCenters()
    pattern) baked into narrow projections and one broadcast join, so
    cell + codes cost zero unbounded shuffles; the three sides of the
    final join are all vec-grain narrow tables co-keyed on vec_id.
    Writing this manifest partitioned by (shard, cell) IS the index
    build at 100 TB."""
    return _ann_index_frames(spark, sf_dir)[0]


_ANN_QUERY_SQL = f"""
    WITH {_ivf_ctes("ivf_corpus", "ivf_seeds", "ivf_assigned")},
    {_pq_ctes("pq_corpus", "pq_seeds", "pq_cdist", "pq_codes")},
    probed AS (
        SELECT q_id, cell FROM (
            SELECT c.vec_id AS q_id, s.cell,
                   row_number() OVER (PARTITION BY c.vec_id
                       ORDER BY round(list_cosine_similarity(c.v, s.cv), {ROUND_RATIO}) DESC,
                                s.cell) AS prank
            FROM ivf_corpus c CROSS JOIN ivf_seeds s WHERE c.vec_id < {N_QUERIES}
        ) WHERE prank <= {N_PROBE}
    ), lut AS (
        SELECT vec_id AS q_id, m, k, d2 FROM pq_cdist WHERE vec_id < {N_QUERIES}
    ), cand AS (
        SELECT p.q_id, a.vec_id AS neighbor_id
        FROM probed p JOIN ivf_assigned a USING (cell)
        WHERE a.vec_id != p.q_id
    ), scored AS (
        SELECT c.q_id, c.neighbor_id,
               sum(CAST(l.d2 AS DECIMAL(18,6))) AS approx_dec
        FROM cand c
        JOIN pq_codes pc ON pc.vec_id = c.neighbor_id
        JOIN lut l ON l.q_id = c.q_id AND l.m = pc.m AND l.k = pc.k
        GROUP BY 1, 2
    ), shortlist AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q_id, neighbor_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY approx_dec, neighbor_id) AS arank
            FROM scored
        ) WHERE arank <= {PQ_SHORTLIST}
    ), exact AS (
        SELECT s.q_id, s.neighbor_id, list_cosine_similarity(cq.v, cn.v) AS cos
        FROM shortlist s
        JOIN pq_corpus cq ON cq.vec_id = s.q_id
        JOIN pq_corpus cn ON cn.vec_id = s.neighbor_id
    {_topk_sql("exact", "    ")}
"""


@op(
    "ann_manifest_query_topk",
    oracle=_ANN_QUERY_SQL,
    tags=("similarity", "ann", "ivf", "pq", "pipeline"),
)
def ann_manifest_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVE step of the ANN family — the query path that runs
    against the index `ann_index_manifest` builds, closing the
    build -> serve lifecycle (r12 consumer rule: consumes the packed
    manifest rows, not the raw embedding column). Standard IVF-PQ
    serving: each query routes to its N_PROBE nearest coarse cells
    (the bounded codebook lives serving-side, as in `ivf_cosine_topk`),
    candidates are ONLY the manifest records in those cells, and they
    are scored by asymmetric distance over the manifest's PACKED
    pq_codes CSV — posexplode(split(...)) recovers (subspace, code),
    so this op also proves the pack/unpack round trip is lossless —
    then a PQ_SHORTLIST-deep shortlist fetches real vectors for the
    exact-cosine rerank. Differs from `ivf_cosine_topk` (exact within
    cells, no compression) and `pq_adc_topk` (ADC over the FULL
    corpus): this is the composed production plan, ADC restricted to
    probed cells.

    100 TB shape: the manifest is written partitioned by (shard,
    cell), so probing N_PROBE of N_CELLS cells IS partition pruning —
    a query touches N_PROBE/N_CELLS of the index and reads M bytes of
    codes per candidate, never the 64-double vector; the query LUT
    (queries x M x K subspace distances) and the probed routing table
    are bounded broadcasts; only the shortlist fetches embeddings.
    Cross-engine determinism: cell routing and the ADC
    argmin/shortlist order over ROUNDED values (scale-6 d2,
    DECIMAL(18,6) totals — exact and order-independent) with id
    tiebreaks; the final exact rerank ranks RAW cosines, same as its
    green siblings `ivf_cosine_topk`/`pq_adc_topk` (both engines
    evaluate the same double expression; only the output column
    rounds). Build + serve share the MEMOIZED `_ann_index_frames`
    (round 13, the r12-verdict ask): the vec-grain manifest is cached
    once per session, so serving no longer re-executes the whole index
    build in-plan — it reads the same cached artifact the build op
    ships. `_ann_serve_topk` takes the manifest as a parameter, so the
    identical serve plan also runs against a manifest READ BACK from
    parquet (the production path; tests/test_round13_ops.py pins the
    write -> read -> serve round trip)."""
    manifest = _ann_index_frames(spark, sf_dir)[0]
    return _ann_serve_topk(spark, sf_dir, manifest)


def _ann_serve_topk(
    spark: SparkSession, sf_dir: str, manifest: DataFrame
) -> DataFrame:
    """The serve-side plan of `ann_manifest_query_topk`, parameterized
    over the manifest source: the in-session cached build OR a manifest
    read from storage (write partitioned by (shard, cell), read back,
    serve — at 100 TB the read-back path is the only one; probing
    N_PROBE cells is then literal partition pruning). Query-side
    artifacts (routing codebook, query LUT, rerank vectors) come from
    the memoized frames either way."""
    _, corpus, ranked_cells, ncorpus, cdist = _ann_index_frames(spark, sf_dir)
    probed = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.explode(F.slice(ranked_cells, 1, N_PROBE)["cell"]).alias("cell"),
    )
    lut = cdist.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "m", "k", "d2"
    )
    decoded = (
        manifest.select("vec_id", "cell", "pq_codes")
        .join(F.broadcast(probed), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.posexplode(F.split("pq_codes", ",")).alias("m", "k_str"),
        )
        .select("q_id", "neighbor_id", "m", F.col("k_str").cast("int").alias("k"))
    )
    scored = (
        decoded.join(F.broadcast(lut), ["q_id", "m", "k"])
        .groupBy("q_id", "neighbor_id")
        .agg(F.sum(F.col("d2").cast("decimal(18,6)")).alias("approx_dec"))
    )
    return _shortlist_rerank(scored, ncorpus)


_ANN_CELL_BALANCE_SQL = f"""
    WITH {_ivf_ctes("ivf_corpus", "ivf_seeds", "ivf_assigned")},
    cellcounts AS (
        SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors
        FROM ivf_assigned GROUP BY cell
    ), tot AS (
        SELECT CAST(sum(n_vectors) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS n_cells
        FROM cellcounts
    )
    SELECT CAST(c.cell AS INTEGER) AS cell,
           c.n_vectors,
           {oracle_ratio_round(f"c.n_vectors * {N_CELLS}", "t.total")}
               AS skew_x_uniform,
           CAST(CASE WHEN c.n_vectors * {N_CELLS} > 2 * t.total
                THEN 1 ELSE 0 END AS INT) AS is_hot
    FROM cellcounts c CROSS JOIN tot t
"""


@op(
    "ann_cell_balance_stats",
    oracle=_ANN_CELL_BALANCE_SQL,
    tags=("similarity", "ann", "report", "pipeline"),
)
def ann_cell_balance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-health audit of the shipped ANN manifest — per IVF cell,
    the record count, its skew against a perfectly uniform coarse
    quantizer (n_vectors * N_CELLS / total, exactly 1.0 when
    balanced), and a hot-cell flag at 2x uniform. This is the number
    that decides whether the coarse codebook needs re-training:
    `ann_manifest_query_topk`'s whole serve economics rest on probing
    N_PROBE/N_CELLS of the data, and ONE hot cell quietly turns the
    pruned scan back into a corpus scan for every query routed to it
    (the p99 latency tail every IVF deployment monitors). Consumes
    the manifest records `ann_index_manifest` ships — at 100 TB this
    audit runs on the (shard, cell)-partitioned manifest parquet and
    its group-by keys ARE the partition keys, so it reduces to
    partition-local counting.

    Scale shape: one map-side-combinable count at the bounded
    N_CELLS grain, one 1-row total broadcast back onto it; the
    hot flag is a cross-multiplied integer comparison and the skew a
    single half-up rational, so no float decides a verdict."""
    manifest = _ann_index_frames(spark, sf_dir)[0]
    counts = manifest.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    tot = counts.agg(F.sum("n_vectors").cast("long").alias("total"))
    return counts.crossJoin(F.broadcast(tot)).select(
        F.col("cell").cast("int").alias("cell"),
        "n_vectors",
        ratio_round(
            F.col("n_vectors").cast("decimal(38,0)") * N_CELLS, F.col("total")
        ).alias("skew_x_uniform"),
        (F.col("n_vectors") * N_CELLS > 2 * F.col("total"))
        .cast("int")
        .alias("is_hot"),
    )


_PROBE_CURVE_SQL_TEMPLATE = f"""
    WITH {_ivf_ctes("ivf_corpus", "ivf_seeds", "ivf_assigned")},
    probed AS (
        SELECT q_id, cell, prank FROM (
            SELECT c.vec_id AS q_id, s.cell,
                   row_number() OVER (PARTITION BY c.vec_id
                       ORDER BY round(list_cosine_similarity(c.v, s.cv), {ROUND_RATIO}) DESC,
                                s.cell) AS prank
            FROM ivf_corpus c CROSS JOIN ivf_seeds s WHERE c.vec_id < {N_QUERIES}
        ) WHERE prank <= {N_PROBE}
    ), cand AS (
        SELECT p.q_id, a.vec_id AS neighbor_id, p.prank,
               list_cosine_similarity(q.v, a.v) AS cos
        FROM probed p JOIN ivf_assigned a USING (cell)
        JOIN ivf_corpus q ON q.vec_id = p.q_id
        WHERE a.vec_id != p.q_id
    ), depths AS (
        SELECT CAST(unnest(range(1, {N_PROBE} + 1)) AS INTEGER) AS probe_depth
    ), ivf_topk AS (
        SELECT probe_depth, q_id, neighbor_id FROM (
            SELECT d.probe_depth, c.q_id, c.neighbor_id,
                   row_number() OVER (PARTITION BY d.probe_depth, c.q_id
                                      ORDER BY c.cos DESC, c.neighbor_id) AS rnk
            FROM cand c JOIN depths d ON c.prank <= d.probe_depth
        ) WHERE rnk <= {TOP_K}
    ), brute AS ({{BRUTE}})
    SELECT d.probe_depth,
           CAST(count(i.neighbor_id) AS BIGINT) AS n_hits,
           CAST(count(*) AS BIGINT) AS n_truth,
           {oracle_ratio_round("count(i.neighbor_id)", "count(*)")} AS recall
    FROM brute b CROSS JOIN depths d
    LEFT JOIN ivf_topk i ON i.probe_depth = d.probe_depth
                        AND i.q_id = b.q_id AND i.neighbor_id = b.neighbor_id
    GROUP BY d.probe_depth
"""


def ivf_probe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The N_PROBE tuning table — recall@k against the exact
    brute-force truth at EVERY probe depth 1..N_PROBE in one pass:
    the cost/quality curve an IVF deployment derives before fixing
    its probe count, since each extra probed cell buys marginal
    recall at a linear scan-cost increase (`ann_cell_balance_stats`
    prices the cost side; this table prices the quality side).
    Candidates come from the SHIPPED manifest records like the serve
    op, and the truth set is the registered `cosine_topk_brute`
    itself (same plan, same oracle embedded as a derived table), so
    the curve can never drift from what users actually run.

    The one-pass trick: a neighbor lives in exactly ONE cell, so its
    routing rank against a query is a single number — scoring each
    candidate once with its prank attached and fanning out over a
    bounded N_PROBE-row depth spine replaces N_PROBE separate topk
    runs (the naive formulation re-scans the candidate set per
    depth). Scale shape: routing codebook and query vectors are
    bounded broadcasts, candidate volume is the serve op's (N_PROBE
    cells per query), the per-depth ranking windows are keyed on
    (depth, query), and the final aggregate is N_PROBE rows."""
    manifest, corpus, ranked_cells, _, _ = _ann_index_frames(spark, sf_dir)
    probed = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.posexplode(F.slice(ranked_cells, 1, N_PROBE)["cell"]).alias("p0", "cell"),
    ).select("q_id", (F.col("p0") + 1).cast("int").alias("prank"), "cell")
    qv = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    cand = (
        manifest.select("vec_id", "cell")
        .join(F.broadcast(probed), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(F.broadcast(qv), "q_id")
        .join(
            corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv")),
            F.col("vec_id") == F.col("neighbor_id"),
        )
        .select(
            "q_id",
            "neighbor_id",
            "prank",
            _cos(F.col("qv"), F.col("nv")).alias("cos"),
        )
    )
    depths = spark.range(1, N_PROBE + 1).select(
        F.col("id").cast("int").alias("probe_depth")
    )
    fanned = cand.join(F.broadcast(depths), F.col("prank") <= F.col("probe_depth"))
    w = Window.partitionBy("probe_depth", "q_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    ivf_topk = (
        fanned.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("probe_depth", "q_id", F.col("neighbor_id").alias("ivf_neighbor"))
    )
    brute = OPS["cosine_topk_brute"].fn(spark, sf_dir).select("q_id", "neighbor_id")
    # both sides fan over the SAME depths frame — explicit aliases keep
    # the join columns unambiguous (no silent trivially-true predicate)
    truth = brute.crossJoin(F.broadcast(depths)).alias("tr")
    hits = truth.join(
        ivf_topk.alias("iv"),
        (F.col("iv.probe_depth") == F.col("tr.probe_depth"))
        & (F.col("iv.q_id") == F.col("tr.q_id"))
        & (F.col("iv.ivf_neighbor") == F.col("tr.neighbor_id")),
        "left",
    ).select(
        F.col("tr.probe_depth").alias("probe_depth"),
        F.col("iv.ivf_neighbor").alias("ivf_neighbor"),
    )
    return hits.groupBy(F.col("probe_depth").cast("int").alias("probe_depth")).agg(
        F.count("ivf_neighbor").cast("long").alias("n_hits"),
        F.count(F.lit(1)).cast("long").alias("n_truth"),
        ratio_round(
            F.count("ivf_neighbor").cast("decimal(38,0)"),
            F.count(F.lit(1)).cast("decimal(38,0)"),
        ).alias("recall"),
    )


# Registered via the decorator (not a direct OPS[...] assignment) so
# make_registrar's duplicate-name guard applies — the oracle string
# needs cosine_topk_brute's oracle, already in OPS at this point, so
# the decorator call can simply be deferred past the fn definition.
op(
    "ivf_probe_recall_curve",
    oracle=_PROBE_CURVE_SQL_TEMPLATE.replace(
        "{BRUTE}", OPS["cosine_topk_brute"].oracle
    ),
    tags=("similarity", "ann", "ivf", "report"),
)(ivf_probe_recall_curve)


_INT8_EXPORT_SQL = f"""
    WITH vp AS (
        SELECT vec_id, i,
               (CASE WHEN embedding[i] < 0 THEN -1 ELSE 1 END)
               * CAST(floor(abs(CAST(embedding[i] AS DOUBLE)) * 1000000 + 0.5)
                      AS HUGEINT) AS vm
        FROM (SELECT vec_id, embedding,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings)
    ), m AS (
        SELECT vec_id, max(abs(vm)) AS maxabs FROM vp GROUP BY vec_id
    ), q AS (
        SELECT vp.vec_id, vp.i,
               (CASE WHEN vp.vm < 0 THEN -1 ELSE 1 END)
               * ((2*abs(vp.vm)*127 + m.maxabs) // (2*m.maxabs)) AS qv
        FROM vp JOIN m USING (vec_id) WHERE m.maxabs > 0
    ), packed AS (
        SELECT vec_id,
               string_agg(CAST(qv AS VARCHAR), ',' ORDER BY i) AS codes_csv,
               CAST(count(*) AS BIGINT) AS n_dims
        FROM q GROUP BY vec_id
    ), rec AS (
        SELECT p.vec_id, p.codes_csv,
               CAST(m.maxabs AS BIGINT) AS maxabs_micro,
               CAST(('0x' || substr(md5('vec:' || CAST(p.vec_id AS VARCHAR)), 1, 15))::BIGINT
                    % {RDZV_SHARDS} AS INTEGER) AS shard,
               p.n_dims + 8 AS n_bytes
        FROM packed p JOIN m ON m.vec_id = p.vec_id
    ), placed AS (
        SELECT *,
               row_number() OVER (PARTITION BY shard ORDER BY vec_id)
                   AS export_ordinal,
               coalesce(sum(n_bytes) OVER (PARTITION BY shard ORDER BY vec_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS byte_start
        FROM rec
    )
    SELECT vec_id, shard,
           CAST(export_ordinal AS BIGINT) AS export_ordinal,
           CAST(byte_start AS BIGINT) AS byte_start,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           maxabs_micro,
           md5('i8:' || CAST(vec_id AS VARCHAR) || '|'
               || CAST(maxabs_micro AS VARCHAR) || '|' || codes_csv)
               AS record_md5
    FROM placed
"""


@op(
    "int8_vector_export_manifest",
    oracle=_INT8_EXPORT_SQL,
    tags=("similarity", "quantize", "pipeline", "report"),
)
def int8_vector_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SHIP step of the int8 quantizer family — the byte-addressed
    export manifest of the exact-rerank vector store. PQ codes in
    `ann_index_manifest` are the SCAN representation; the final
    shortlist rerank (`ann_manifest_query_topk`'s exact stage) reads
    real vectors, and at 100 TB those live in flat binary shard files
    a loader seeks into, not in parquet rows. One record per
    quantizable vector: the rendezvous shard (the SAME 'vec:' salt as
    `ann_index_manifest`, so the rerank store is CO-SHARDED with the
    index — a serve node's probe and its rerank reads are both
    local), the write-order ordinal inside the shard file, the byte
    range of the record (n_dims int8 codes + an 8-byte maxabs_micro
    dequantization header), and an md5 over the full pos-ordered code
    CSV — payload integrity, not just envelope (the audio analog is
    `audio_chunk_export_manifest`'s PCM byte ranges).

    Quantization repeats `_int8_vm`'s sign-split floor micro
    conversion and `int8_quantize_embeddings`' exact absmax rational
    (same formulas, bit-for-bit) as HIGHER-ORDER ARRAY expressions
    over the embedding column instead of posexplode+groupBy+join:
    those siblings need the exploded (vec, dim) grain for their
    aggregates, but a per-vector record build does not — the array
    form is the plan a 100 TB export wants (the oracle keeps the
    relational formulation, which is itself the cross-engine parity
    check on the arithmetic).

    Scale shape: ONE embeddings scan, zero joins — maxabs, the code
    CSV and the byte size are all array folds inside the same
    projection (stays in Tungsten; the posexplode formulation costs
    3 scans + 6 exchanges for identical output, measured) — then one
    shuffle by shard for the enumeration windows, whose sort IS the
    shard file's write order (a writer sorts within partitions
    anyway — sortWithinPartitions — so the window adds no work the
    export doesn't already do); checksums as narrow projections."""
    from my_polars_ai_spark.operators.dedup import portable_hash60

    e = _t(spark, sf_dir, "embeddings")
    micro = lambda x: (  # noqa: E731 — shared sign-split floor micro conversion
        (F.when(x < 0, -1).otherwise(1)
         * F.floor(F.abs(x.cast("double")) * 1000000 + F.lit(0.5)))
        .cast("decimal(38,0)")
    )
    vmed = e.select(
        "vec_id",
        F.transform("embedding", micro).alias("vm"),
    ).select(
        "vec_id",
        "vm",
        F.array_max(F.transform("vm", F.abs)).alias("maxabs"),
    )
    qv = lambda v: (  # noqa: E731 — exact absmax int8 rational per dim
        F.when(v < 0, -1).otherwise(1)
        * exact_floor_div(2 * F.abs(v) * 127 + F.col("maxabs"),
                          2 * F.col("maxabs"))
    )
    rec = vmed.filter(F.col("maxabs") > 0).select(
        "vec_id",
        F.array_join(
            F.transform("vm", lambda v: qv(v).cast("string")), ","
        ).alias("codes_csv"),
        F.col("maxabs").cast("long").alias("maxabs_micro"),
        (
            portable_hash60(F.concat(F.lit("vec:"), F.col("vec_id").cast("string")))
            % RDZV_SHARDS
        )
        .cast("int")
        .alias("shard"),
        (F.size("vm").cast("long") + 8).alias("n_bytes"),
    )
    ws = Window.partitionBy("shard").orderBy("vec_id")
    return rec.select(
        "vec_id",
        "shard",
        F.row_number().over(ws).cast("long").alias("export_ordinal"),
        F.coalesce(
            F.sum("n_bytes").over(ws.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        .cast("long")
        .alias("byte_start"),
        F.col("n_bytes").cast("long").alias("n_bytes"),
        "maxabs_micro",
        F.md5(
            F.concat(
                F.lit("i8:"),
                F.col("vec_id").cast("string"),
                F.lit("|"),
                F.col("maxabs_micro").cast("string"),
                F.lit("|"),
                F.col("codes_csv"),
            )
        ).alias("record_md5"),
    )


_INT8_FIDELITY_ORACLE = f"""
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               list_transform(embedding, x ->
                   (CASE WHEN x < 0 THEN -1 ELSE 1 END)
                   * CAST(floor(abs(CAST(x AS DOUBLE)) * 1000000 + 0.5)
                          AS HUGEINT)) AS vm
        FROM embeddings
    ), mx AS (
        SELECT vec_id, v, vm,
               list_max(list_transform(vm, y -> abs(y))) AS maxabs
        FROM base
    ), qz AS (
        SELECT vec_id, v,
               list_transform(vm, y ->
                   CAST((CASE WHEN y < 0 THEN -1 ELSE 1 END)
                        * ((2 * 127 * abs(y) + maxabs) // (2 * maxabs))
                        AS DOUBLE)) AS c
        FROM mx WHERE maxabs > 0
    ), q AS (
        SELECT vec_id AS q_id, v AS qv, c AS qc FROM qz
        WHERE vec_id < {{NQ}}
    ), scored AS (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               list_cosine_similarity(q.qv, e.v) AS cos_exact,
               list_cosine_similarity(q.qc, e.c) AS cos_int8
        FROM q CROSS JOIN qz e WHERE e.vec_id != q.q_id
    ), ranked AS (
        SELECT q_id, neighbor_id, cos_exact, cos_int8,
               row_number() OVER (PARTITION BY q_id
                   ORDER BY cos_exact DESC, neighbor_id) AS rank_exact,
               row_number() OVER (PARTITION BY q_id
                   ORDER BY cos_int8 DESC, neighbor_id) AS rank_int8
        FROM scored
    )
    SELECT q_id,
           CAST(count(CASE WHEN rank_exact <= {{K}} AND rank_int8 <= {{K}}
                      THEN 1 END) AS BIGINT) AS n_agree,
           CAST({{K}} AS BIGINT) AS k,
           {{AGREE}} AS agreement,
           round(max(CASE WHEN rank_int8 <= {{K}}
                     THEN abs(cos_exact - cos_int8) END),
                 {ROUND_RATIO}) AS max_abs_cos_err
    FROM ranked
    WHERE rank_exact <= {{K}} OR rank_int8 <= {{K}}
    GROUP BY q_id
""".replace("{NQ}", str(N_QUERIES)).replace("{K}", str(TOP_K)).replace(
    "{AGREE}",
    oracle_ratio_round(
        f"count(CASE WHEN rank_exact <= {TOP_K} AND rank_int8 <= {TOP_K}"
        " THEN 1 END)",
        str(TOP_K),
    ),
)


@op(
    "int8_rerank_fidelity",
    oracle=_INT8_FIDELITY_ORACLE,
    tags=("similarity", "quantize", "report"),
)
def int8_rerank_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AUDIT consumer of `int8_vector_export_manifest` — prices the
    QUALITY side of shipping int8 rerank vectors the way
    `ivf_probe_recall_curve` prices the probe-depth decision: per
    query, does a rerank over the int8 store return the same top-k as
    a rerank over exact floats, and how much cosine distortion do the
    served results carry? Output per query: the exact/int8 top-k
    agreement count and ratio, and the max |cos_exact - cos_int8|
    over the int8-served results. Query 3 at sf0.001 shows a real
    int8-induced rank flip (2/3 agreement) — exactly the regression
    this audit exists to catch before a quantized store ships.

    Quantization repeats the export's sign-split floor micro
    conversion and exact absmax rational bit-for-bit (same lambdas'
    formulas as `int8_vector_export_manifest`), so the audit scores
    the codes a loader would actually read back. Both sides of the
    int8 cosine are quantized (symmetric int8 serve): the per-vector
    scales then CANCEL in the cosine, so cos_int8 is pure integer
    arithmetic (int8 dot / sqrt of int norms — every sum exact in a
    double) and is bit-identical across engines regardless of fold
    order; the ranking cannot tie-flip cross-engine.

    Two scoping caveats (r15 advice). (1) BOTH rerank sides are
    intentionally restricted to the quantizable STORE MEMBERS
    (maxabs > 0 after micro conversion — exactly the rows
    `int8_vector_export_manifest` ships): the audit prices the store
    a loader serves, so a micro-zero vector (every |x| < 5e-7) that
    `cosine_topk_brute` could legitimately rank is outside the audit
    universe on both sides by design — n_agree compares exact-vs-int8
    OVER THE STORE, not vs the unfiltered-corpus brute ranking (the
    two coincide whenever no micro-zero vector cracks a top-k, which
    holds on every test SF). (2) The cross-engine bit-exactness
    guarantee above covers the cos_int8 RANKING only; cos_exact is a
    float fold (Spark zip_with/aggregate vs the oracle's
    list_cosine_similarity) and shares `cosine_topk_brute`'s accepted
    last-ulp tie exposure on near-tied neighbors, relied on
    empirically (tie-free at all three SFs).

    Scale shape: ONE embeddings scan builds the float vector and the
    int8 code array in the same projection (micro -> absmax -> codes
    as array folds, all in Tungsten); the bounded query set broadcasts
    (N_QUERIES rows — the same broadcast-crossJoin shape as
    `cosine_topk_brute`, the registered exact baseline); one exchange
    on q_id drives both ranking windows; output is N_QUERIES rows.
    At 100 TB the corpus side stays a single streaming pass."""
    e = _t(spark, sf_dir, "embeddings")
    micro = lambda x: (  # noqa: E731 — export's sign-split floor micro conversion
        (F.when(x < 0, -1).otherwise(1)
         * F.floor(F.abs(x.cast("double")) * 1000000 + F.lit(0.5)))
        .cast("decimal(38,0)")
    )
    vmed = e.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("v"),
        F.transform("embedding", micro).alias("vm"),
    ).select(
        "vec_id", "v", "vm",
        F.array_max(F.transform("vm", F.abs)).alias("maxabs"),
    )
    qv = lambda y: (  # noqa: E731 — export's exact absmax int8 rational per dim
        F.when(y < 0, -1).otherwise(1)
        * exact_floor_div(2 * 127 * F.abs(y) + F.col("maxabs"),
                          2 * F.col("maxabs"))
    )
    qz = vmed.filter(F.col("maxabs") > 0).select(
        "vec_id", "v",
        F.transform("vm", lambda y: qv(y).cast("double")).alias("c"),
    )
    queries = qz.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("c").alias("qc"),
    )
    # broadcast the bounded query set over one corpus pass; score the
    # exact-float and symmetric-int8 cosine in the same projection
    scored = (
        qz.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos(F.col("qv"), F.col("v")).alias("cos_exact"),
            _cos(F.col("qc"), F.col("c")).alias("cos_int8"),
        )
    )
    we = Window.partitionBy("q_id").orderBy(F.desc("cos_exact"), F.asc("neighbor_id"))
    wi = Window.partitionBy("q_id").orderBy(F.desc("cos_int8"), F.asc("neighbor_id"))
    both = F.when(
        (F.col("rank_exact") <= TOP_K) & (F.col("rank_int8") <= TOP_K), 1
    ).otherwise(0)
    return (
        scored.withColumn("rank_exact", F.row_number().over(we))
        .withColumn("rank_int8", F.row_number().over(wi))
        .filter((F.col("rank_exact") <= TOP_K) | (F.col("rank_int8") <= TOP_K))
        .groupBy("q_id")
        .agg(
            F.sum(both).cast("long").alias("n_agree"),
            F.lit(TOP_K).cast("long").alias("k"),
            ratio_round(
                F.sum(both).cast("decimal(38,0)"),
                F.lit(TOP_K).cast("decimal(38,0)"),
            ).alias("agreement"),
            F.round(
                F.max(
                    F.when(
                        F.col("rank_int8") <= TOP_K,
                        F.abs(F.col("cos_exact") - F.col("cos_int8")),
                    )
                ),
                ROUND_RATIO,
            ).alias("max_abs_cos_err"),
        )
    )


# Core-point threshold for the density flags (neighbors at the
# dedup_embedding_cosine similarity level).
DENSITY_MIN_NEIGHBORS = 2


@op(
    "density_core_points",
    oracle=f"""
    WITH pairs AS ({_EMB_DEDUP_ORACLE}
    ), ends AS (
        SELECT vec_a AS vec_id FROM pairs
        UNION ALL
        SELECT vec_b FROM pairs
    )
    SELECT vec_id, CAST(count(*) AS BIGINT) AS n_neighbors,
           (count(*) >= {DENSITY_MIN_NEIGHBORS}) AS is_core
    FROM ends GROUP BY vec_id
    """,
    tags=("similarity", "density", "ml"),
)
def density_core_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN-style density flags over the embedding space: per-vector
    neighbor counts at the `dedup_embedding_cosine` similarity level,
    with core points = vectors having >= 2 such neighbors — the
    density view that separates semantic clusters from isolated
    outliers (and the first half of a DBSCAN: core points + the
    near-dup pair graph + `dedup_cluster_canonical`'s label
    propagation IS the full algorithm, every piece already green).
    Reuses the LSH-bucketed pair generation verbatim; the extra work
    is one endpoint explode + a vec_id-keyed count."""
    pairs = OPS["dedup_embedding_cosine"].fn(spark, sf_dir)
    ends = pairs.select(F.col("vec_a").alias("vec_id")).unionByName(
        pairs.select(F.col("vec_b").alias("vec_id"))
    )
    return ends.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        (F.count(F.lit(1)) >= DENSITY_MIN_NEIGHBORS).alias("is_core"),
    )


@op(
    "embedding_dbscan_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS MATERIALIZED (
        SELECT vec_a, vec_b FROM ({_EMB_DEDUP_ORACLE})
    ), edges AS MATERIALIZED (
        SELECT vec_a AS src, vec_b AS dst FROM pairs
        UNION ALL
        SELECT vec_b, vec_a FROM pairs
    ), deg AS (
        SELECT src AS vec_id, count(*) AS n FROM edges GROUP BY src
    ), cores AS MATERIALIZED (
        SELECT vec_id FROM deg WHERE n >= {DENSITY_MIN_NEIGHBORS}
    ), core_edges AS MATERIALIZED (
        SELECT e.src, e.dst FROM edges e
        JOIN cores a ON a.vec_id = e.src
        JOIN cores b ON b.vec_id = e.dst
    ), walk(node, label) AS (
        SELECT vec_id, vec_id FROM cores
        UNION
        SELECT e.dst, w.label FROM walk w JOIN core_edges e ON e.src = w.node
    ), comp AS (
        SELECT node AS vec_id, min(label) AS cluster_id FROM walk GROUP BY node
    ), border AS (
        SELECT e.src AS vec_id, min(c.cluster_id) AS cluster_id
        FROM edges e
        JOIN comp c ON c.vec_id = e.dst
        WHERE e.src NOT IN (SELECT vec_id FROM cores)
        GROUP BY e.src
    )
    SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id, 'core' AS role
    FROM comp
    UNION ALL
    SELECT vec_id, CAST(cluster_id AS BIGINT), 'border' FROM border
    """,
    tags=("similarity", "cluster", "graph", "ml"),
)
def embedding_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete deterministic DBSCAN over the embedding space, assembled
    from the already-green pieces: neighbor pairs from the LSH-bucketed
    cosine join (epsilon = the near-dup threshold), core points by
    degree (minPts = 2 neighbors), connected components over CORE-CORE
    edges via the same min-label propagation as
    `dedup_cluster_canonical`, then border points attached to their
    minimum-labeled core neighbor. Vectors with no neighbors are noise
    and emit nothing. Every stage is a keyed join/aggregate; the only
    iteration is the bounded label-propagation loop (driver controls
    rounds, data never leaves the cluster). Min-label + min-border
    attachment make the clustering fully deterministic, so even DBSCAN
    is oracle-checked via the recursive label closure."""
    pairs = OPS["dedup_embedding_cosine"].fn(spark, sf_dir).select("vec_a", "vec_b")
    edges = _undirected(pairs, "vec_a", "vec_b").cache()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    cores = deg.filter(F.col("n") >= DENSITY_MIN_NEIGHBORS).select(
        F.col("src").alias("vec_id")
    ).cache()
    core_edges = (
        edges.join(cores.withColumnRenamed("vec_id", "src"), "src")
        .join(cores.withColumnRenamed("vec_id", "dst"), "dst")
        .select("src", "dst")
        .cache()
    )
    labels = cores.select(
        F.col("vec_id").alias("node"), F.col("vec_id").alias("comp")
    ).localCheckpoint()
    labels = _min_label_components(core_edges, labels, "DBSCAN components")
    comp = labels.select(
        F.col("node").alias("vec_id"), F.col("comp").alias("cluster_id")
    )
    border = (
        edges.join(comp.withColumnRenamed("vec_id", "dst"), "dst")
        .join(cores.withColumnRenamed("vec_id", "src"), "src", "left_anti")
        .groupBy("src")
        .agg(F.min("cluster_id").alias("cluster_id"))
        .select(F.col("src").alias("vec_id"), "cluster_id")
    )
    return comp.select(
        "vec_id", F.col("cluster_id").cast("long").alias("cluster_id"),
        F.lit("core").alias("role"),
    ).unionByName(
        border.select(
            "vec_id", F.col("cluster_id").cast("long").alias("cluster_id"),
            F.lit("border").alias("role"),
        )
    )


_HARD_NEG_SQL = f"""
    WITH q AS (
        SELECT vec_id AS q_id, label AS q_label, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ), scored AS (
        SELECT q.q_id, q.q_label, e.vec_id AS neighbor_id, e.label AS n_label,
               list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) AS cos
        FROM q CROSS JOIN embeddings e
        WHERE e.label != q.q_label
    ), ranked AS (
        SELECT q_id, q_label, neighbor_id, n_label, cos,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT q_id, q_label, neighbor_id, n_label,
           round(cos, {ROUND_RATIO}) AS cos, rank
    FROM ranked WHERE rank <= {TOP_K}
"""


@op(
    "hard_negatives_topk",
    oracle=_HARD_NEG_SQL,
    tags=("similarity", "knn", "training-data"),
)
def hard_negatives_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    (the query set), the top-k highest-cosine vectors with a DIFFERENT
    label — maximally confusing negatives, the pairs that actually move
    a contrastive loss. Same 100 TB shape as cosine_topk_brute
    (broadcast anchors, one corpus stream, per-anchor bounded window);
    swap the scan for ann_lsh_cosine's bucket candidates when anchors
    number in the millions."""
    e = _t(spark, sf_dir, "embeddings")
    corpus = e.select("vec_id", "label", _as_double(F.col("embedding")).alias("v"))
    queries = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("label") != F.col("q_label"))
        .select(
            "q_id",
            "q_label",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("n_label"),
            _cos(F.col("qv"), F.col("v")).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "q_label", "neighbor_id", "n_label",
                F.round("cos", ROUND_RATIO).alias("cos"), "rank")
    )


# Every embedding component as (vec_id, label, dim) and its exact
# 1e-8-unit integer xm.
_POS_XM_CTE = """
    WITH pos AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS dim,
               CAST(CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(20,8))
                    * 100000000 AS HUGEINT) AS xm
        FROM embeddings
    )"""

_CENTROID_OUTLIER_SQL = f"""{_POS_XM_CTE}, cent AS (
        SELECT label, dim, sum(xm) AS s, count(*) AS n
        FROM pos GROUP BY label, dim
    ), terms AS (
        SELECT p.vec_id, p.label, c.n,
               (c.n * p.xm - c.s) * (c.n * p.xm - c.s) AS t
        FROM pos p JOIN cent c ON c.label = p.label AND c.dim = p.dim
    ), agg AS (
        SELECT vec_id, label, any_value(n) AS n, sum(t) AS num
        FROM terms GROUP BY vec_id, label
    )
    SELECT vec_id, label,
           %s AS d2_to_centroid
    FROM agg
""" % oracle_ratio_round("num", "n * n * CAST(10000000000000000 AS HUGEINT)")


@op(
    "centroid_outlier_scores",
    oracle=_CENTROID_OUTLIER_SQL,
    tags=("similarity", "ml", "quality"),
)
def centroid_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise detection: squared L2 distance of every vector to its
    OWN label's centroid, exactly. The centroid mean never materializes
    as a float — with components in integer 1e-8 units,
    d2 = sum_d (n*x_d - S_d)^2 / (n^2 * 1e16) is a pure integer
    rational, so the score hash-matches across engines and
    partitionings. Plan: posexplode to (vec, dim) rows, ONE bounded
    aggregation for the (label x dim) sums, broadcast it back, per-vec
    sum — two shuffles total, both map-side combinable. Vectors far
    from their own centroid are mislabel/outlier candidates (feed the
    rank to a review queue)."""
    e = _t(spark, sf_dir, "embeddings")
    pos = e.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("p", "x"),
    ).select(
        "vec_id",
        "label",
        (F.col("p") + 1).alias("dim"),
        (F.col("x").cast("double").cast("decimal(20,8)") * 100000000)
        .cast("decimal(38,0)")
        .alias("xm"),
    )
    cent = pos.groupBy("label", "dim").agg(
        F.sum("xm").alias("s"), F.count(F.lit(1)).alias("n")
    )
    diff = (
        F.col("n").cast("decimal(38,0)") * F.col("xm") - F.col("s")
    )
    terms = pos.join(F.broadcast(cent), ["label", "dim"]).select(
        "vec_id", "label", "n", (diff * diff).alias("t")
    )
    agg = terms.groupBy("vec_id", "label").agg(
        F.first("n").alias("n"), F.sum("t").alias("num")
    )
    den = (
        F.col("n").cast("decimal(38,0)")
        * F.col("n").cast("decimal(38,0)")
        * F.lit(10000000000000000).cast("decimal(38,0)")
    )
    return agg.select(
        "vec_id", "label", ratio_round(F.col("num"), den).alias("d2_to_centroid")
    )


_CENTROID_SIM_SQL = f"""
    WITH pos AS (
        SELECT label,
               generate_subscripts(embedding, 1) AS dim,
               CAST(CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(20,8))
                    * 100000000 AS HUGEINT) AS xm
        FROM embeddings
    ), cent AS (
        SELECT label, dim, sum(xm) AS s FROM pos GROUP BY label, dim
    ), dots AS (
        SELECT a.label AS label_a, b.label AS label_b,
               sum(a.s * b.s) AS dot_ab
        FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
        GROUP BY 1, 2
    ), norms AS (
        SELECT label, sum(s * s) AS n2 FROM cent GROUP BY label
    )
    SELECT label_a, label_b,
           round(CAST(dot_ab AS DOUBLE)
                 / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
                 {ROUND_RATIO}) AS cos
    FROM dots
    JOIN norms na ON na.label = label_a
    JOIN norms nb ON nb.label = label_b
"""


@op(
    "label_centroid_similarity",
    oracle=_CENTROID_SIM_SQL,
    tags=("similarity", "ml", "embedding"),
)
def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between label centroids — the class-confusability
    matrix read before merging/splitting labels. The per-label counts
    CANCEL in centroid cosine (cos(S_a/n_a, S_b/n_b) =
    S_a.S_b/(|S_a||S_b|)), so everything up to the last step is exact
    integer sums of 1e-8-unit components; the final int->double
    conversion, sqrt and divide are all IEEE-correctly-rounded, hence
    engine-portable. Plan: one posexplode aggregation to the bounded
    (label x dim) grid, then dim-keyed self-join over that tiny table
    — the corpus is read ONCE."""
    e = _t(spark, sf_dir, "embeddings")
    pos = e.select(
        "label", F.posexplode(F.col("embedding")).alias("p", "x")
    ).select(
        "label",
        (F.col("p") + 1).alias("dim"),
        (F.col("x").cast("double").cast("decimal(20,8)") * 100000000)
        .cast("decimal(38,0)")
        .alias("xm"),
    )
    cent = pos.groupBy("label", "dim").agg(F.sum("xm").alias("s"))
    a = cent.select(F.col("label").alias("label_a"), "dim", F.col("s").alias("sa"))
    b = cent.select(F.col("label").alias("label_b"), "dim", F.col("s").alias("sb"))
    dots = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("dot_ab"))
    )
    norms = cent.groupBy("label").agg(F.sum(F.col("s") * F.col("s")).alias("n2"))
    na = norms.select(F.col("label").alias("label_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("n2").alias("nb2"))
    cos = F.col("dot_ab").cast("double") / (
        F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))
    )
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select("label_a", "label_b", F.round(cos, ROUND_RATIO).alias("cos"))
    )


_COV_SQL = """
    WITH pos AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS dim,
               CAST(CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(20,8))
                    * 100000000 AS HUGEINT) AS xm
        FROM embeddings
    ), prod AS (
        SELECT a.dim AS dim_a, b.dim AS dim_b,
               count(*) AS n,
               sum(a.xm) AS sa, sum(b.xm) AS sb,
               sum(a.xm * b.xm) AS sab
        FROM pos a JOIN pos b ON a.vec_id = b.vec_id AND a.dim <= b.dim
        GROUP BY 1, 2
    )
    SELECT CAST(dim_a AS INT) AS dim_a, CAST(dim_b AS INT) AS dim_b,
           CAST(n * sab - sa * sb AS VARCHAR) AS cov_num_str,
           CAST(n AS BIGINT) AS n
    FROM prod
"""


@op(
    "embedding_covariance",
    oracle=_COV_SQL,
    tags=("similarity", "ml", "stats"),
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact covariance accumulators for every dimension pair of the
    embedding corpus — the input to whitening/PCA. cov = (n*Sab -
    Sa*Sb) / n^2 is kept as its EXACT integer numerator (in 1e-16
    units; emitted as a string because it exceeds int64 — the same
    contract as a BigDecimal column) so the 64x64 matrix
    hash-matches across engines and merges across shards by plain
    addition of (n, Sa, Sb, Sab). Plan: posexplode then a vec_id-keyed
    self-join fans each vector into its dim<=dim pairs (a bounded 2080x
    multiplier — the standard covariance shape), ONE map-side-
    combinable aggregation to the bounded (dim_a, dim_b) grid."""
    e = _t(spark, sf_dir, "embeddings")
    pos = e.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("p", "x")
    ).select(
        "vec_id",
        (F.col("p") + 1).alias("dim"),
        (F.col("x").cast("double").cast("decimal(20,8)") * 100000000)
        .cast("decimal(38,0)")
        .alias("xm"),
    )
    a = pos.select("vec_id", F.col("dim").alias("dim_a"), F.col("xm").alias("xa"))
    b = pos.select("vec_id", F.col("dim").alias("dim_b"), F.col("xm").alias("xb"))
    prod = (
        a.join(b, "vec_id")
        .filter(F.col("dim_a") <= F.col("dim_b"))
        .groupBy("dim_a", "dim_b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xa").alias("sa"),
            F.sum("xb").alias("sb"),
            F.sum(F.col("xa") * F.col("xb")).alias("sab"),
        )
    )
    num = F.col("n").cast("decimal(38,0)") * F.col("sab") - F.col("sa") * F.col("sb")
    return prod.select(
        F.col("dim_a").cast("int").alias("dim_a"),
        F.col("dim_b").cast("int").alias("dim_b"),
        num.cast("string").alias("cov_num_str"),
        F.col("n").cast("long").alias("n"),
    )


_PQ_DISTORTION_ORACLE = f"""
WITH corpus AS MATERIALIZED (
    SELECT vec_id, list_transform(v0, x -> x / nrm) AS v FROM (
        SELECT vec_id, embedding::DOUBLE[] AS v0,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y))) AS nrm
        FROM embeddings
    )
), seeds AS MATERIALIZED (
    SELECT row_number() OVER (ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS k,
           v AS cv
    FROM corpus QUALIFY k < {PQ_K}
), cdist AS (
    SELECT c.vec_id, m.m, s.k,
           round(list_sum(list_transform(range(1, {PQ_SUB} + 1),
                 i -> (c.v[m.m * {PQ_SUB} + i] - s.cv[m.m * {PQ_SUB} + i]) ^ 2)),
                 {ROUND_RATIO}) AS d2
    FROM corpus c
    CROSS JOIN (SELECT unnest(range({PQ_M})) AS m) m
    CROSS JOIN seeds s
), best AS (
    SELECT m, d2 FROM (
        SELECT vec_id, m, d2,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS r
        FROM cdist
    ) WHERE r = 1
)
SELECT CAST(m AS INTEGER) AS m,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST((2*{10**ROUND_RATIO}*sum(CAST(CAST(d2 AS DECIMAL(18,6)) * {10**ROUND_RATIO} AS HUGEINT))
             + count(*)*{10**ROUND_RATIO})
            // (2*count(*)*{10**ROUND_RATIO}) AS DOUBLE) / {10**ROUND_RATIO}
           AS avg_d2
FROM best GROUP BY m
"""


@op(
    "pq_distortion_report",
    oracle=_PQ_DISTORTION_ORACLE,
    tags=("similarity", "ann", "pq", "report"),
)
def pq_distortion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace PQ quantization distortion — mean squared distance
    from each vector's subvector to its ASSIGNED centroid, the number
    that tells you which subspace's codebook is under-fitting (the
    `imbalance factor` check every production PQ index ships with).
    Reuses the exact same md5-seeded codebook + rounded-distance
    pipeline as pq_adc_topk (one broadcast join, map-side-combined
    argmin); the average is exact integer arithmetic over
    DECIMAL(18,6) micro-units. Output is M rows. Round 13: consumes
    the session-memoized `_ann_index_frames` cdist like its siblings."""
    _, _, _, _, cdist = _ann_index_frames(spark, sf_dir)
    best = cdist.groupBy("vec_id", "m").agg(
        F.min(F.struct("d2", "k")).alias("s")
    ).select("m", F.col("s.d2").alias("d2"))
    p = 10**ROUND_RATIO
    sum_micro = F.sum(
        (F.col("d2").cast("decimal(18,6)") * p).cast("decimal(38,0)")
    )
    n = F.count(F.lit(1)).cast("decimal(38,0)")
    from my_polars_ai_spark.operators.base import exact_floor_div

    avg = (
        exact_floor_div(2 * p * sum_micro + n * p, 2 * n * p).cast("double") / p
    )
    return best.groupBy(F.col("m").cast("int").alias("m")).agg(
        n.cast("long").alias("n_vectors"),
        avg.alias("avg_d2"),
    )


# Recall audit oracle: composes the two already-registered oracles as
# derived tables — the audit is DEFINED in terms of the ops it audits.
_RECALL_ORACLE = f"""
WITH brute AS ({{BRUTE}}),
ann AS ({{ANN}})
SELECT b.q_id,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
       CAST({TOP_K} AS BIGINT) AS k,
       {oracle_ratio_round('count(a.neighbor_id)', str(TOP_K))} AS recall
FROM brute b
LEFT JOIN ann a ON a.q_id = b.q_id AND a.neighbor_id = b.neighbor_id
GROUP BY b.q_id
"""


def _recall_oracle() -> str:
    return _RECALL_ORACLE.replace("{BRUTE}", OPS["cosine_topk_brute"].oracle).replace(
        "{ANN}", OPS["ann_lsh_cosine"].oracle
    )


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@k of the LSH ANN index against the exact
    brute-force top-k — the index-governance number a production ANN
    deployment tracks on every rebuild ('did the new hyperplane count
    drop recall?'). Composed FROM the registered ops themselves (same
    plans, same caches), so this audit can never drift from what users
    actually run; the oracle likewise embeds the two ops' oracle
    queries as derived tables. Both sides are deterministic
    (md5-derived hyperplanes), so even the recall of an *approximate*
    index is hash-checked exactly."""
    brute = OPS["cosine_topk_brute"].fn(spark, sf_dir).select("q_id", "neighbor_id")
    ann = (
        OPS["ann_lsh_cosine"].fn(spark, sf_dir)
        .select("q_id", F.col("neighbor_id").alias("ann_neighbor"))
    )
    hits = brute.join(
        ann,
        (brute.q_id == ann.q_id) & (brute.neighbor_id == ann.ann_neighbor),
        "left",
    ).select(brute.q_id.alias("q_id"), "ann_neighbor")
    return hits.groupBy("q_id").agg(
        F.count("ann_neighbor").alias("n_hits"),
        F.lit(TOP_K).cast("long").alias("k"),
        ratio_round(
            F.count("ann_neighbor").cast("decimal(38,0)"),
            F.lit(TOP_K).cast("decimal(38,0)"),
        ).alias("recall"),
    )


# Decorator registration (deferred past the fn definition because the
# oracle is built by _recall_oracle()) keeps the duplicate-name guard.
op(
    "ann_recall_report",
    oracle=_recall_oracle(),
    tags=("similarity", "ann", "report"),
)(ann_recall_report)


MRL_PREFIX_DIM = 16  # truncated-embedding prefix length

_MRL_ORACLE = f"""
WITH corpus AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           embedding[1:{MRL_PREFIX_DIM}]::DOUBLE[] AS vp
    FROM embeddings
), q AS (
    SELECT vec_id AS q_id, v AS qv, vp AS qvp FROM corpus
    WHERE vec_id < {N_QUERIES}
), full_ranked AS (
    SELECT q_id, neighbor_id FROM (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.q_id
                   ORDER BY list_cosine_similarity(q.qv, e.v) DESC, e.vec_id) AS r
        FROM q CROSS JOIN corpus e WHERE e.vec_id != q.q_id
    ) WHERE r <= {TOP_K}
), prefix_ranked AS (
    SELECT q_id, neighbor_id FROM (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.q_id
                   ORDER BY list_cosine_similarity(q.qvp, e.vp) DESC, e.vec_id) AS r
        FROM q CROSS JOIN corpus e WHERE e.vec_id != q.q_id
    ) WHERE r <= {TOP_K}
)
SELECT f.q_id,
       CAST(count(p.neighbor_id) AS BIGINT) AS n_hits,
       CAST({TOP_K} AS BIGINT) AS k,
       {oracle_ratio_round('count(p.neighbor_id)', str(TOP_K))} AS recall
FROM full_ranked f
LEFT JOIN prefix_ranked p
  ON p.q_id = f.q_id AND p.neighbor_id = f.neighbor_id
GROUP BY f.q_id
"""


@op(
    "matryoshka_prefix_recall",
    oracle=_MRL_ORACLE,
    tags=("similarity", "ann", "report"),
)
def matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of TRUNCATED-dimension retrieval (first 16 of 64 dims —
    the Matryoshka-embedding deployment question: how much ranking
    quality survives a 4x cheaper index?) against full-dimension exact
    top-k. Same broadcast-queries/stream-corpus shape as
    cosine_topk_brute run at both widths; the prefix slice prunes the
    scan's compute 4x and, with a prefix-only stored column, its IO.
    Deterministic on both engines, so the degradation curve itself is
    hash-checked."""
    e = _t(spark, sf_dir, "embeddings")
    corpus = e.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("v"),
        _as_double(F.expr(f"slice(embedding, 1, {MRL_PREFIX_DIM})")).alias("vp"),
    )
    queries = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("vp").alias("qvp"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos(F.col("qv"), F.col("v")).alias("cos_full"),
            _cos(F.col("qvp"), F.col("vp")).alias("cos_prefix"),
        )
    )
    wf = Window.partitionBy("q_id").orderBy(F.desc("cos_full"), F.asc("neighbor_id"))
    wp = Window.partitionBy("q_id").orderBy(F.desc("cos_prefix"), F.asc("neighbor_id"))
    both = scored.select(
        "q_id",
        "neighbor_id",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wp).alias("rp"),
    )
    # both frames key uniquely on (q_id, neighbor_id): a prefix-ranked
    # hit inside the full top-k is just rp <= k on the rf <= k rows —
    # one conditional aggregation, no self-join shuffle
    hit = (F.col("rp") <= TOP_K).cast("long")
    return both.filter(F.col("rf") <= TOP_K).groupBy("q_id").agg(
        F.sum(hit).alias("n_hits"),
        F.lit(TOP_K).cast("long").alias("k"),
        ratio_round(
            F.sum(hit).cast("decimal(38,0)"),
            F.lit(TOP_K).cast("decimal(38,0)"),
        ).alias("recall"),
    )


_RETR_ORACLE = f"""
WITH corpus AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
    SELECT vec_id AS q_id, label AS q_label, v AS qv FROM corpus
    WHERE vec_id < {N_QUERIES}
), ranked AS (
    SELECT q.q_id, q.q_label, e.label AS n_label,
           row_number() OVER (PARTITION BY q.q_id
               ORDER BY list_cosine_similarity(q.qv, e.v) DESC, e.vec_id) AS r
    FROM q CROSS JOIN corpus e WHERE e.vec_id != q.q_id
), topk AS (
    SELECT q_id,
           CASE WHEN n_label = q_label THEN 1 ELSE 0 END AS rel,
           r
    FROM ranked WHERE r <= {TOP_K}
), m AS (
    SELECT q_id,
           sum(rel) AS n_rel,
           sum(CAST(round(CAST(rel AS DOUBLE) / log2(r + 1) * 1000000)
                    AS HUGEINT)) AS dcg_micro,
           min(CASE WHEN rel = 1 THEN r END) AS first_rel
    FROM topk GROUP BY q_id
), ideal AS (
    SELECT CAST(sum(CAST(round(1.0 / log2(CAST(range + 2 AS DOUBLE)) * 1000000)
                         AS HUGEINT)) AS HUGEINT) AS idcg3_micro
    FROM range({TOP_K})
)
SELECT m.q_id,
       CAST(m.n_rel AS BIGINT) AS n_relevant,
       {oracle_ratio_round('m.n_rel', str(TOP_K))} AS precision_at_k,
       CASE WHEN m.first_rel IS NOT NULL THEN round(1.0 / m.first_rel, 6) ELSE 0.0
       END AS mrr,
       {oracle_ratio_round('m.dcg_micro', 'i.idcg3_micro')} AS ndcg
FROM m CROSS JOIN ideal i
"""


@op(
    "retrieval_metrics_at_k",
    oracle=_RETR_ORACLE,
    tags=("similarity", "eval", "report"),
)
def retrieval_metrics_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query retrieval quality at k=3 with label-match relevance:
    precision@k, MRR, and nDCG@k — the metric row an embedding-model
    eval harness reports per query before averaging. Relevance = the
    neighbor shares the query's class label (the standard proxy when no
    graded judgments exist). DCG's 1/log2(r+1) terms round once to
    integer micro-units (the house ln-rounding convention), so nDCG is
    an exact rational of integers; MRR's 1/r rounds at scale 6
    directly (exact for r<=3)."""
    e = _t(spark, sf_dir, "embeddings")
    corpus = e.select("vec_id", "label", _as_double(F.col("embedding")).alias("v"))
    q = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "q_label",
            F.col("label").alias("n_label"),
            "vec_id",
            _cos(F.col("qv"), F.col("v")).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    topk = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= TOP_K)
        .select(
            "q_id",
            (F.col("n_label") == F.col("q_label")).cast("int").alias("rel"),
            "r",
        )
    )
    dec = "decimal(38,0)"
    dcg_term = F.round(
        F.col("rel").cast("double") / F.log2(F.col("r") + 1) * 1000000
    ).cast(dec)
    m = topk.groupBy("q_id").agg(
        F.sum("rel").cast(dec).alias("n_rel"),
        F.sum(dcg_term).alias("dcg_micro"),
        F.min(F.when(F.col("rel") == 1, F.col("r"))).alias("first_rel"),
    )
    idcg3 = sum(round(1.0 / math.log2(i + 2) * 1000000) for i in range(TOP_K))
    mrr = F.when(
        F.col("first_rel").isNotNull(),
        F.round(F.lit(1.0) / F.col("first_rel"), 6),
    ).otherwise(F.lit(0.0))
    return m.select(
        "q_id",
        F.col("n_rel").cast("long").alias("n_relevant"),
        ratio_round(F.col("n_rel"), F.lit(TOP_K).cast(dec)).alias("precision_at_k"),
        mrr.alias("mrr"),
        ratio_round(F.col("dcg_micro"), F.lit(idcg3).cast(dec)).alias("ndcg"),
    )


_NCC_SQL = f"""{_POS_XM_CTE}, cent AS (
        SELECT label AS cand, dim, sum(xm) AS s,
               CAST(count(*) AS HUGEINT) AS n
        FROM pos GROUP BY label, dim
    ), terms AS (
        SELECT p.vec_id, p.label AS actual_label, c.cand,
               max(c.n) AS n,
               sum((c.n * p.xm - c.s) * (c.n * p.xm - c.s)) AS num
        FROM pos p JOIN cent c ON c.dim = p.dim
        GROUP BY 1, 2, 3
    ), scored AS (
        SELECT vec_id, actual_label, cand,
               {oracle_ratio_round(
                   'num', 'n * n * CAST(10000000000000000 AS HUGEINT)')} AS d2q
        FROM terms
    ), pred AS (
        SELECT actual_label, cand,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2q ASC, cand ASC) AS rn
        FROM scored
    )
    SELECT actual_label, cand AS predicted_label,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM pred WHERE rn = 1 GROUP BY 1, 2
"""


@op(
    "nearest_centroid_confusion",
    oracle=_NCC_SQL,
    tags=("similarity", "ml", "classifier"),
)
def nearest_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classification of every embedding
    against ALL label centroids, reported as the bounded confusion
    matrix — the embedding-space sibling of naive_bayes_langid and the
    assignment-side complement of centroid_outlier_scores (that op
    scores distance to your OWN centroid; this one asks which centroid
    is closest). Distances stay exact integer rationals
    (sum_d (n*x-S)^2 over n^2*1e16, the 1e-8-unit seam) quantized ONCE
    at micro precision; argmin tie-breaks on the lower label, so the
    prediction is engine-stable. Plan: one posexplode aggregation to
    the (label x dim) centroid grid (640 rows, broadcast), a dim-keyed
    join fans each component to L candidates, two map-side-combined
    reduces — no pairwise vector joins anywhere. DECIMAL(38,0) bound
    holds to ~sf1 per label (n*xm ~ 1e13 squared x64); beyond that the
    components quantize once like anova_f."""
    e = _t(spark, sf_dir, "embeddings")
    pos = e.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("p", "x"),
    ).select(
        "vec_id",
        F.col("label").alias("actual_label"),
        (F.col("p") + 1).alias("dim"),
        (F.col("x").cast("double").cast("decimal(20,8)") * 100000000)
        .cast("decimal(38,0)")
        .alias("xm"),
    )
    cent = (
        pos.groupBy(F.col("actual_label").alias("cand"), "dim")
        .agg(F.sum("xm").alias("s"), F.count(F.lit(1)).cast("decimal(38,0)").alias("n"))
    )
    diff = F.col("n") * F.col("xm") - F.col("s")
    terms = pos.join(F.broadcast(cent), "dim").groupBy(
        "vec_id", "actual_label", "cand"
    ).agg(F.max("n").alias("n"), F.sum(diff * diff).alias("num"))
    den = F.col("n") * F.col("n") * F.lit(10000000000000000).cast("decimal(38,0)")
    scored = terms.select(
        "vec_id",
        "actual_label",
        "cand",
        ratio_round(F.col("num"), den).alias("d2q"),
    )
    pred = scored.groupBy("vec_id", "actual_label").agg(
        F.min(F.struct(F.col("d2q"), F.col("cand"))).alias("best")
    )
    return pred.groupBy(
        "actual_label", F.col("best.cand").alias("predicted_label")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))


_PCA_SQL = f"""
    WITH pos AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS dim,
               CAST(CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(20,8))
                    * 100000000 AS HUGEINT) AS xm
        FROM embeddings
    ), v0 AS (
        SELECT DISTINCT dim,
               (('0x' || substr(md5('pca0:' || CAST(dim AS VARCHAR)), 1, 15))
                ::BIGINT % 1001) - 500 AS v
        FROM pos
    ), p AS (
        SELECT pos.vec_id, sum(pos.xm * v0.v) AS pv
        FROM pos JOIN v0 USING (dim) GROUP BY 1
    ), t AS (
        SELECT pos.dim, sum(pos.xm * p.pv) AS tv
        FROM pos JOIN p USING (vec_id) GROUP BY 1
    ), s AS (
        SELECT dim, sum(xm) AS sa, CAST(count(*) AS HUGEINT) AS n
        FROM pos GROUP BY dim
    ), u AS (
        SELECT sum(s.sa * v0.v) AS uu FROM s JOIN v0 USING (dim)
    ), v1 AS (
        SELECT s.dim, s.n * t.tv - s.sa * u.uu AS w
        FROM s JOIN t USING (dim) CROSS JOIN u
    ), m AS (
        SELECT max(abs(w)) AS ma FROM v1
    )
    SELECT CAST(dim AS INT) AS dim,
           CASE WHEN m.ma > 0 THEN
               {oracle_signed_ratio_round('v1.w', 'm.ma')}
           END AS v1_rel
    FROM v1 CROSS JOIN m
"""


@op("pca_power_iteration_step", oracle=_PCA_SQL, tags=("similarity", "ml", "linalg"))
def pca_power_iteration_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One MATRIX-FREE power-iteration step toward the top principal
    component of the embedding cloud: v1 = C v0 with the (unnormalized)
    covariance C_ab = n*S_ab - S_a*S_b never materialized — the 64x64
    S_ab grid would need a per-vector dim x dim self-join, so instead
    v1_a = n * sum_v x_va * (x_v . v0) - S_a * (S . v0): two narrow
    per-vector passes (dot with broadcast v0, then re-weight by it),
    each a map-side-combined aggregation. The seed v0 is md5-derived
    per dimension (the stored-model-free idiom of the LSH family), all
    accumulators are exact DECIMAL(38,0) in the 1e-8-unit seam, and
    the direction is reported scale-free as each component's signed
    half-up ratio to the max-|component| — normalization without sqrt,
    so the whole step is integer-exact and hash-portable. Iterating is
    re-running with v0 := v1 (the convergence loop is driver-side
    iteration control, same contract as dedup_cluster_canonical)."""
    v1 = _pca_v1(spark, sf_dir)
    m = v1.agg(F.max(F.abs(F.col("w"))).alias("ma"))
    return v1.crossJoin(F.broadcast(m)).select(
        F.col("dim").cast("int").alias("dim"),
        F.when(F.col("ma") > 0, signed_ratio_round(F.col("w"), F.col("ma"))).alias(
            "v1_rel"
        ),
    )


@session_memo
def _pca_v1(spark: SparkSession, sf_dir: str):
    """The DIM-bounded (64-row) un-normalized power-iteration result
    ``v1`` — it feeds BOTH the max-|component| normalizer aggregate
    and the final projection; uncached, the crossJoin(broadcast(m))
    diamond duplicated the FULL matvec chain (24 embeddings scans in
    one static plan, r16 — guide §2.4/§5). Session-memoized so repeated
    calls do not each register a fresh CacheManager entry."""
    e = _t(spark, sf_dir, "embeddings")
    pos = e.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("p", "x")
    ).select(
        "vec_id",
        (F.col("p") + 1).alias("dim"),
        (F.col("x").cast("double").cast("decimal(20,8)") * 100000000)
        .cast("decimal(38,0)")
        .alias("xm"),
    )
    v0 = pos.select("dim").distinct().select(
        "dim",
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("pca0:"), F.col("dim").cast("string"))), 1, 15),
                16,
                10,
            ).cast("long")
            % 1001
            - 500
        ).cast("decimal(38,0)").alias("v"),
    )
    p = (
        pos.join(F.broadcast(v0), "dim")
        .groupBy("vec_id")
        .agg(F.sum(F.col("xm") * F.col("v")).alias("pv"))
    )
    t = (
        pos.join(p, "vec_id")
        .groupBy("dim")
        .agg(F.sum(F.col("xm") * F.col("pv")).alias("tv"))
    )
    s = pos.groupBy("dim").agg(
        F.sum("xm").alias("sa"), F.count(F.lit(1)).cast("decimal(38,0)").alias("n")
    )
    u = s.join(F.broadcast(v0), "dim").agg(
        F.sum(F.col("sa") * F.col("v")).alias("uu")
    )
    v1 = (
        s.join(t, "dim")
        .crossJoin(F.broadcast(u))
        .select("dim", (F.col("n") * F.col("tv") - F.col("sa") * F.col("uu")).alias("w"))
        .cache()
    )
    return v1, (v1,)


# Semantic decontamination: corpus vectors too close to the held-out
# benchmark slice. vec_id < N_BENCH plays the benchmark embedding set.
N_BENCH = 50
EMB_CONTAM_THRESHOLD = 0.3  # like EMB_DEDUP_THRESHOLD: this synthetic
# corpus has no true near-dups, 0.3 exercises the full pipeline;
# production decontamination sits at ~0.9+.

_EMB_CONTAM_ORACLE = f"""{_LSH_BUCKETS_CTES}, cand AS (
    SELECT DISTINCT c.vec_id AS doc_vec, b.vec_id AS bench_vec
    FROM buckets c
    JOIN buckets b ON c.tbl = b.tbl AND c.bucket = b.bucket
    WHERE c.vec_id >= {N_BENCH} AND b.vec_id < {N_BENCH}
), scored AS (
    SELECT doc_vec, list_cosine_similarity(cc.v, cb.v) AS cos
    FROM cand
    JOIN corpus cc ON cc.vec_id = doc_vec
    JOIN corpus cb ON cb.vec_id = bench_vec
    WHERE list_cosine_similarity(cc.v, cb.v) >= {EMB_CONTAM_THRESHOLD}
)
SELECT doc_vec AS vec_id,
       CAST(count(*) AS BIGINT) AS n_benchmark_hits,
       round(max(cos), {ROUND_RATIO}) AS best_cos
FROM scored GROUP BY doc_vec
"""


@op(
    "benchmark_embedding_contamination",
    oracle=_EMB_CONTAM_ORACLE,
    tags=("similarity", "embedding", "contamination", "pipeline"),
)
def benchmark_embedding_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic benchmark decontamination — the embedding-space twin of
    the 3-gram `benchmark_contamination` screen: paraphrased or
    translated eval leakage shares no n-grams but sits next to the
    benchmark in embedding space. Corpus vectors (vec_id >= N_BENCH)
    that land in the same hyperplane-LSH bucket as any benchmark
    vector (vec_id < N_BENCH) are exact-cosine verified; output is the
    per-document drop-list (hit count + closest benchmark cosine).

    Plan: the SAME multi-table bucket projection as ann_lsh_cosine,
    split into corpus/benchmark sides, candidate join keyed on
    (table, bucket) with the BENCHMARK side as the small build — at
    100 TB the benchmark bucket table is a tiny pre-built broadcast
    artifact and the screen is one narrow projection + one broadcast
    join per snapshot, never corpus x benchmark."""
    e = _t(spark, sf_dir, "embeddings")
    corpus = e.select("vec_id", _as_double(F.col("embedding")).alias("v")).cache()
    bucketed = _lsh_buckets(corpus, "vec_id")
    docs = bucketed.filter(F.col("vec_id") >= N_BENCH).select(
        F.col("vec_id").alias("doc_vec"), "tbl", "bucket"
    )
    bench = bucketed.filter(F.col("vec_id") < N_BENCH).select(
        F.col("vec_id").alias("bench_vec"), "tbl", "bucket"
    )
    cand = (
        docs.join(F.broadcast(bench), ["tbl", "bucket"])
        .select("doc_vec", "bench_vec")
        .distinct()
    )
    cc = corpus.select(F.col("vec_id").alias("doc_vec"), F.col("v").alias("vc"))
    cb = corpus.select(F.col("vec_id").alias("bench_vec"), F.col("v").alias("vb"))
    paired = cand.join(cc, "doc_vec").join(F.broadcast(cb), "bench_vec")
    cos = _cos(F.col("vc"), F.col("vb"))
    return (
        paired.withColumn("cos", cos)
        .filter(F.col("cos") >= EMB_CONTAM_THRESHOLD)
        .groupBy(F.col("doc_vec").alias("vec_id"))
        .agg(
            F.count(F.lit(1)).alias("n_benchmark_hits"),
            F.round(F.max("cos"), ROUND_RATIO).alias("best_cos"),
        )
    )


# Greedy k-center coreset: number of centers selected.
KCENTER_K = 5


def _kcenter_oracle() -> str:
    """Statically-unrolled greedy k-center (farthest-point traversal):
    seed = vec_id 0; each round adds the point with the largest
    min-squared-distance to the chosen set (ties -> lowest vec_id).
    list_reduce's left fold matches Spark's aggregate() fold
    bit-for-bit, so the argmax ranking agrees across engines."""
    d2 = (
        "list_reduce(list_transform(range(1, len(a.v) + 1), "
        "i -> (a.v[i] - c.v[i]) * (a.v[i] - c.v[i])), (x, y) -> x + y)"
    )
    ctes = [
        "corpus AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "cen1 AS (SELECT 0 AS rnd, vec_id, 0.0 AS radius_sq FROM corpus WHERE vec_id = 0)",
    ]
    for k in range(2, KCENTER_K + 1):
        prev = " UNION ALL ".join(f"SELECT vec_id FROM cen{j}" for j in range(1, k))
        ctes.append(
            f"""cen{k} AS MATERIALIZED (
            SELECT {k - 1} AS rnd, a.vec_id, min({d2}) AS radius_sq
            FROM corpus a
            JOIN corpus c ON c.vec_id IN ({prev})
            WHERE a.vec_id NOT IN ({prev})
            GROUP BY a.vec_id
            ORDER BY radius_sq DESC, a.vec_id
            LIMIT 1
        )"""
        )
    union = " UNION ALL ".join(
        f"SELECT * FROM cen{k}" for k in range(1, KCENTER_K + 1)
    )
    return (
        "WITH "
        + ", ".join(ctes)
        + f"""
    SELECT CAST(rnd AS INT) AS rnd, vec_id,
           round(radius_sq, {ROUND_RATIO}) AS radius_sq
    FROM ({union})
    """
    )


@op(
    "kcenter_coreset_greedy",
    oracle=_kcenter_oracle(),
    tags=("similarity", "coreset", "iterative", "pipeline"),
)
def kcenter_coreset_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center CORESET selection (farthest-point traversal) —
    the diversity-maximizing subset picker of active-learning and
    data-pruning pipelines (Sener & Savarese 2018): seed with vec 0,
    then repeatedly add the embedding farthest (min squared L2 to the
    chosen set) from everything chosen so far. The selected radius
    sequence is the 2-approximation coverage radius — the number every
    pruning report quotes ('5 centers cover the corpus at r^2 = ...').

    Iterative-loop discipline (the BPE/CC pattern): the chosen set is a
    BOUNDED broadcast side (<= K vectors), each round is one narrow
    min-over-centers map + one TakeOrderedAndProject argmax whose
    result is a 1-row collect; the corpus is never collected, and the
    distance fold is the same left fold on both engines so even the
    argmax tie surface is identical."""
    e = _t(spark, sf_dir, "embeddings")
    corpus = e.select("vec_id", _as_double(F.col("embedding")).alias("v")).cache()
    chosen = [(0, 0, 0.0)]  # (rnd, vec_id, radius_sq)
    for rnd in range(1, KCENTER_K):
        ids = [c[1] for c in chosen]
        cen = corpus.filter(F.col("vec_id").isin(ids)).select(
            F.col("vec_id").alias("c_id"), F.col("v").alias("cv")
        )
        d2 = F.aggregate(
            F.zip_with("v", "cv", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        top = (
            corpus.filter(~F.col("vec_id").isin(ids))
            .crossJoin(F.broadcast(cen))
            .select("vec_id", d2.alias("d2"))
            .groupBy("vec_id")
            .agg(F.min("d2").alias("radius_sq"))
            .orderBy(F.desc("radius_sq"), "vec_id")
            .limit(1)
            .collect()[0]
        )
        chosen.append((rnd, int(top["vec_id"]), float(top["radius_sq"])))
    out = spark.createDataFrame(
        chosen, "rnd int, vec_id long, radius_sq double"
    )
    return out.select("rnd", "vec_id", F.round("radius_sq", ROUND_RATIO).alias("radius_sq"))


# SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
# web-scale through semantic deduplication"): k-means the embeddings,
# find within-cluster cosine near-dups, and from each duplicate pair
# KEEP the example LESS similar to its cluster centroid (preserves the
# cluster's diversity). EPS is 0.3 on this synthetic corpus (no true
# near-dups, max pairwise cosine ~0.51 — same rationale as
# EMB_DEDUP_THRESHOLD); production uses ~0.95+. The within-cluster
# pair search is prefiltered by a 6-plane sign sketch so the join is
# (cluster, bucket)-keyed — never the cluster-size^2 cross product.
SEMDEDUP_EPS = 0.3
SEMDEDUP_PLANES = 6
_SD_PLANE0 = 100  # plane-id offset: disjoint from the ANN tables' 0..11


def _sd_bucket_sql() -> str:
    return " + ".join(
        f"({_sign_expr_sql(_SD_PLANE0 + p)}) * {1 << p}"
        for p in range(SEMDEDUP_PLANES)
    )


# The SemDeDup sketch: nearest-centroid assignment with the centroid
# cosine, plus the sign-sketch bucket (the oracle side of
# _semdedup_sketch).
_SD_SKETCH_CTES = f"""{_KM_SEEDS_CTES}, assigned AS MATERIALIZED (
    SELECT vec_id, v, cluster,
           round(list_cosine_similarity(v, cv), {ROUND_RATIO}) AS cosc
    FROM (
        SELECT c.vec_id, c.v, s.cluster, s.cv,
               row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY round(list_distance(c.v, s.cv), {ROUND_RATIO}) ASC,
                            s.cluster) AS arank
        FROM corpus c CROSS JOIN seeds s
    ) WHERE arank = 1
), sk AS MATERIALIZED (
    SELECT vec_id, cluster, cosc, v, {_sd_bucket_sql()} AS bucket
    FROM assigned
)"""

_SEMDEDUP_ORACLE = f"""{_SD_SKETCH_CTES}, dup_pairs AS (
    SELECT a.vec_id AS keep_id, b.vec_id AS drop_id
    FROM sk a JOIN sk b
      ON a.cluster = b.cluster AND a.bucket = b.bucket
     AND a.vec_id <> b.vec_id
     AND round(list_cosine_similarity(a.v, b.v), {ROUND_RATIO}) >= {SEMDEDUP_EPS}
     AND (a.cosc < b.cosc OR (a.cosc = b.cosc AND a.vec_id < b.vec_id))
)
SELECT s.vec_id, CAST(s.cluster AS INT) AS cluster, s.cosc AS cos_centroid,
       CAST(CASE WHEN d.drop_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
FROM sk s LEFT JOIN (SELECT DISTINCT drop_id FROM dup_pairs) d
  ON s.vec_id = d.drop_id
"""


@op(
    "semdedup_keep_list",
    oracle=_SEMDEDUP_ORACLE,
    tags=("dedup", "similarity", "embedding", "pipeline"),
)
def semdedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup — SEMANTIC deduplication over embeddings (Abbas et al.
    2023), the method LAION/web-scale pipelines use where MinHash sees
    only lexical overlap: k-means-cluster the embedding space, detect
    within-cluster cosine near-duplicates, and keep, from each
    duplicate relation, the example LEAST similar to its cluster
    centroid (dropping the redundant ones closest to the mode). Output
    is every vector with its cluster, centroid similarity, and the
    kept/dropped verdict — the keep-list a curation pass consumes.

    Determinism/portability: the K=4 codebook is the md5-rank seeded
    bounded artifact of `kmeans_lloyd_step`; assignment argmin runs on
    ROUNDED distances (ties to the lower cluster id), and all cosine
    comparisons — the eps test and the who-is-more-central dominance —
    use values rounded once at ROUND_RATIO, so both engines make
    identical keep decisions.

    100 TB shape: assignment is a narrow zero-shuffle projection
    against K literal centroids; the near-dup search joins on
    (cluster, 6-plane sign-sketch bucket) — candidate fan-in is the
    bucket population, never cluster_size^2 (the sketch-equality
    prefilter trades recall exactly like the dedup family's LSH
    members; production tunes planes per corpus density). The drop
    set is one distinct + one left join at vector grain."""
    sk = _semdedup_sketch(spark, sf_dir)
    dropped = (
        _semdedup_dominating(sk)
        .filter(F.col("pair_cos") >= SEMDEDUP_EPS)
        .select(F.col("b_id").alias("drop_id"))
        .distinct()
    )
    return (
        sk.join(dropped, sk.vec_id == dropped.drop_id, "left")
        .select(
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            F.col("cosc").alias("cos_centroid"),
            F.when(F.col("drop_id").isNull(), 1).otherwise(0).cast("int").alias("kept"),
        )
    )


@session_memo
def _semdedup_sketch(spark: SparkSession, sf_dir: str):
    """Shared SemDeDup front end: md5-seeded K-cluster assignment plus
    the 6-plane sign-sketch bucket, cached (it feeds both sides of the
    candidate self-join) and session-memoized — the assignment sketch
    is the family's shared index artifact (keep-list AND threshold
    sweep consume it), and a fresh call would re-collect the codebook
    seeds and re-fill a brand-new cache entry per action (measured
    1.95s -> 0.78s per isolated action at sf0.1)."""
    e = _t(spark, sf_dir, "embeddings")
    corpus = e.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    codebook = _md5_codebook(corpus, KM_K)

    def _entry(cl: int, cv: list[float]) -> Column:
        lv = F.array(*[F.lit(float(x)) for x in cv])
        d = _dist_to(lv)
        cosc = F.round(
            _cos(F.col("v"), lv),
            ROUND_RATIO,
        )
        return F.struct(d.alias("d"), F.lit(cl).alias("cluster"), cosc.alias("cosc"))

    ranked = F.array_sort(F.array(*[_entry(cl, cv) for cl, cv in codebook]))
    bucket = sum(
        (
            _hyperplane_sign(F.col("v"), _SD_PLANE0 + p) * (1 << p)
            for p in range(SEMDEDUP_PLANES)
        ),
        F.lit(0),
    )
    sk = corpus.select(
        "vec_id",
        "v",
        ranked[0]["cluster"].alias("cluster"),
        ranked[0]["cosc"].alias("cosc"),
        bucket.alias("bucket"),
    ).cache()
    return sk, (sk,)


def _semdedup_dominating(sk: DataFrame) -> DataFrame:
    """Dominating candidate pairs (a more central than b, same cluster
    and sketch bucket) with their rounded pair cosine — the eps-FREE
    relation both the keep-list (fixed eps) and the threshold sweep
    (eps grid) filter."""
    a = sk.select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("va"),
        F.col("cosc").alias("a_cosc"), "cluster", "bucket",
    )
    b = sk.select(
        F.col("vec_id").alias("b_id"), F.col("v").alias("vb"),
        F.col("cosc").alias("b_cosc"), "cluster", "bucket",
    )
    pair_cos = F.round(
        _cos(F.col("va"), F.col("vb")),
        ROUND_RATIO,
    )
    return (
        a.join(b, ["cluster", "bucket"])
        .filter(F.col("a_id") != F.col("b_id"))
        .filter(
            (F.col("a_cosc") < F.col("b_cosc"))
            | ((F.col("a_cosc") == F.col("b_cosc")) & (F.col("a_id") < F.col("b_id")))
        )
        .select("b_id", pair_cos.alias("pair_cos"))
    )


# SemDeDup tuning grid: candidate eps operating points (the deployed
# keep-list runs at SEMDEDUP_EPS).
SEMDEDUP_EPS_GRID = (0.1, 0.2, 0.3, 0.5, 0.8)
_SD_GRID_SQL = ", ".join(f"({e})" for e in SEMDEDUP_EPS_GRID)

_SD_SWEEP_ORACLE = f"""{_SD_SKETCH_CTES}, best AS (
    SELECT b.vec_id AS drop_id,
           max(round(list_cosine_similarity(a.v, b.v), {ROUND_RATIO})) AS best_cos
    FROM sk a JOIN sk b
      ON a.cluster = b.cluster AND a.bucket = b.bucket
     AND a.vec_id <> b.vec_id
     AND (a.cosc < b.cosc OR (a.cosc = b.cosc AND a.vec_id < b.vec_id))
    GROUP BY b.vec_id
), tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n_vec FROM sk
)
SELECT CAST(g.eps AS DOUBLE) AS eps,
       CAST(coalesce(sum(CASE WHEN best.best_cos >= g.eps THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_dropped,
       CAST(any_value(tot.n_vec)
            - coalesce(sum(CASE WHEN best.best_cos >= g.eps THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_kept,
       {oracle_ratio_round(
           "any_value(tot.n_vec) - coalesce(sum(CASE WHEN best.best_cos >= g.eps "
           "THEN 1 ELSE 0 END), 0)", "any_value(tot.n_vec)")} AS keep_rate
FROM (VALUES {_SD_GRID_SQL}) AS g(eps)
CROSS JOIN tot
LEFT JOIN best ON 1 = 1
GROUP BY g.eps
"""


@op(
    "semdedup_threshold_sweep",
    oracle=_SD_SWEEP_ORACLE,
    tags=("dedup", "similarity", "embedding", "eval", "pipeline"),
)
def semdedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup operating-point tuner: keep-rate as a function of the
    cosine threshold over the SEMDEDUP_EPS_GRID — the curve the Abbas
    et al. paper sweeps (their Fig. 2) before fixing eps, produced
    from ONE pass over the candidate pairs. `semdedup_keep_list` is
    the single-eps deployment of the same dominance relation, so the
    sweep's row at eps = SEMDEDUP_EPS reproduces its drop count
    exactly (pytest-pinned).

    Scale shape: the (cluster, sign-sketch)-bucketed dominating-pair
    relation is built once (never cluster_size^2), reduced to ONE row
    per candidate drop target (max dominating cosine) BEFORE the grid
    touches it, then the bounded literal eps grid cross-joins onto the
    per-target maxima — |grid| x |candidates| bounded rows, one
    |grid|-row aggregate out. Cosines round once at ROUND_RATIO; all
    threshold comparisons happen on those once-rounded values on both
    engines."""
    sk = _semdedup_sketch(spark, sf_dir)
    best = (
        _semdedup_dominating(sk)
        .groupBy("b_id")
        .agg(F.max("pair_cos").alias("best_cos"))
    )
    # One conditional-sum aggregate over the per-target maxima — the eps
    # grid never joins against the (corpus-scale) candidate table; it
    # lives as literal thresholds inside the aggregate and a 5-struct
    # explode of the single result row.
    sums = best.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("best_cos") >= float(e), 1).otherwise(0)),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"d{i}")
            for i, e in enumerate(SEMDEDUP_EPS_GRID)
        ]
    )
    tot = sk.agg(F.count(F.lit(1)).cast("bigint").alias("n_vec"))
    row = sums.crossJoin(F.broadcast(tot))
    stage_structs = [
        F.struct(
            F.lit(float(e)).alias("eps"),
            F.col(f"d{i}").alias("n_dropped"),
            (F.col("n_vec") - F.col(f"d{i}")).cast("bigint").alias("n_kept"),
            ratio_round(F.col("n_vec") - F.col(f"d{i}"), F.col("n_vec")).alias(
                "keep_rate"
            ),
        )
        for i, e in enumerate(SEMDEDUP_EPS_GRID)
    ]
    return row.select(F.explode(F.array(*stage_structs)).alias("s")).select("s.*")
