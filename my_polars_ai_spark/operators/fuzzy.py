"""Fuzzy matching + deterministic sampling + ordered string aggregation
(rounding out the text/dedup toolbox with fully oracle-checked ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_polars_ai_spark.operators.base import Op, make_registrar
from my_polars_ai_spark.operators.dedup import portable_hash60
from my_polars_ai_spark.sources.tables import load_table as _t

OPS: dict[str, Op] = {}
op = make_registrar(OPS)


@op(
    "fuzzy_levenshtein_pairs",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
    FROM names a JOIN names b ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
    tags=("fuzzy", "dedup", "string"),
)
def fuzzy_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-match pairs by edit distance over the distinct name
    vocabulary — the entity-resolution primitive. Pairing happens on the
    DISTINCT values (vocab, not corpus) under a LOSSLESS length-bucket
    blocking key: edit distance <= 4 bounds |len(a)-len(b)| <= 4, so with
    buckets of width 8 a qualifying pair's buckets differ by at most 1;
    side b fans out to {bk-1, bk, bk+1} and the join is a plain equi-join
    on the bucket — no BroadcastNestedLoopJoin over vocab^2.  Because the
    blocking provably loses no pairs, the oracle stays the unblocked
    all-pairs SQL and the match certifies losslessness.  Each qualifying
    pair matches on exactly one key (the three fan-out keys are distinct),
    so no dedup pass is needed.  At 100 TB, bucket-key cardinality (a few
    length bands) caps join parallelism — compose with a second lossless
    key (e.g. PassJoin segment signatures) or salt the bucket."""
    p = _t(spark, sf_dir, "part")
    names = p.select("p_name").distinct().cache()
    bk = F.floor(F.length("p_name") / 8).cast("long")
    a = names.select(F.col("p_name").alias("name_a"), bk.alias("bk"))
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.explode(F.array(bk - 1, bk, bk + 1)).alias("bk"),
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "bk")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b", dist.alias("edit_dist"))
        .filter(F.col("edit_dist") <= 4)
    )


@op(
    "hash_sample",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events
    WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 10 = 0
    """,
    tags=("sample",),
)
def hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample by key hash — reproducible across engines
    and runs, unlike rand()-based sampling; the pattern that keeps samples
    consistent between pipeline stages at 100 TB (same key => same fate)."""
    e = _t(spark, sf_dir, "events")
    return e.filter(
        portable_hash60(F.col("event_id").cast("string")) % 10 == 0
    ).select("event_id", "user_id", "event_type")


@op(
    "string_agg_per_group",
    oracle="""
    SELECT l_returnflag,
           string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
           CAST(count(DISTINCT l_linestatus) AS INTEGER) AS n_statuses
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "string"),
)
def string_agg_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (group_concat/string_agg surface):
    collect_set + array_sort + array_join keeps the result deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    statuses = F.array_sort(F.collect_set("l_linestatus"))
    return li.groupBy("l_returnflag").agg(
        F.array_join(statuses, ",").alias("statuses"),
        F.size(F.collect_set("l_linestatus")).alias("n_statuses"),
    )


@op(
    "stratified_sample",
    oracle="""
    WITH rates AS (
        SELECT 'purchase' AS et, 50 AS pct UNION ALL
        SELECT 'view', 10 UNION ALL
        SELECT 'error', 100
    )
    SELECT e.event_id, e.user_id, e.event_type
    FROM events e
    JOIN rates r ON e.event_type = r.et
    WHERE ('0x' || substr(md5(CAST(e.event_id AS VARCHAR)), 1, 15))::BIGINT % 100 < r.pct
    """,
    tags=("sample", "stratified"),
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling — the class-balancing primitive
    for training-data pipelines (downsample the dominant class, keep all
    of the rare one). Rates ride in on a broadcast dim table; membership
    is a pure hash of the row key, so the sample is reproducible across
    engines, runs, and pipeline stages, and composes with hash_sample
    (same key -> same fate at any rate)."""
    rates = [("purchase", 50), ("view", 10), ("error", 100)]
    e = _t(spark, sf_dir, "events")
    r = e.sparkSession.createDataFrame(rates, "et string, pct int")
    return (
        e.join(r, e.event_type == r.et)
        .filter(portable_hash60(F.col("event_id").cast("string")) % 100 < F.col("pct"))
        .select("event_id", "user_id", "event_type")
    )


@op(
    "group_topk_percent",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_id, value,
               percent_rank() OVER (PARTITION BY user_id ORDER BY value, event_id) AS pr
        FROM events
    )
    SELECT user_id, event_id, value
    FROM ranked WHERE pr >= 0.9
    """,
    tags=("window", "filter", "topk"),
)
def group_topk_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep each group's top 10% rows by value — quality-based pruning per
    source/domain, the shape used to keep only the best documents per
    bucket. percent_rank is PARTITIONED by a high-cardinality key here
    (unlike the flagged global-window ops), so state stays bounded and the
    one shuffle is on the group key. Tie-broken on event_id for
    determinism."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    return (
        e.select("user_id", "event_id", "value", F.percent_rank().over(w).alias("pr"))
        .filter(F.col("pr") >= 0.9)
        .select("user_id", "event_id", "value")
    )


@op(
    "weighted_bernoulli_sample",
    oracle="""
    WITH scored AS (
        SELECT doc_id,
               string_split(text, ' ') AS ts
        FROM documents
    ), probs AS (
        SELECT doc_id,
               CAST(floor(len(list_distinct(ts)) * 1024.0
                          / greatest(len(ts), 1)) AS BIGINT) AS p_1024
        FROM scored
    )
    SELECT doc_id, p_1024
    FROM probs
    WHERE ('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
          % 1024 < p_1024
    """,
    tags=("sample", "pipeline"),
)
def weighted_bernoulli_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted sampling — keep each document with probability
    proportional to its lexical diversity (the 'sample high-quality
    data harder' pass of training-data curation). Per-row Bernoulli
    with md5-derived uniforms: acceptance is an INTEGER compare
    (u mod 1024 < floor(diversity*1024)), so the drawn sample is
    bit-identical across engines, runs, and pipeline stages — unlike
    rand()-based sampling — and composes with hash_sample /
    stratified_sample (independent md5 namespaces). One narrow
    projection + filter; no shuffle, no state."""
    d = _t(spark, sf_dir, "documents")
    ts = F.split("text", " ")
    p_1024 = F.floor(
        F.size(F.array_distinct(ts)) * 1024.0 / F.greatest(F.size(ts), F.lit(1))
    ).cast("bigint")
    u = portable_hash60(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))) % 1024
    return d.select("doc_id", p_1024.alias("p_1024"), u.alias("u")).filter(
        F.col("u") < F.col("p_1024")
    ).select("doc_id", "p_1024")


@op(
    "train_val_test_split",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, source,
               ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 100 AS bucket
        FROM documents
    ), labeled AS (
        SELECT source,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM h
    )
    SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs
    FROM labeled GROUP BY source, split
    """,
    tags=("sample", "pipeline"),
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by content-
    addressed hash — the split every training pipeline needs to be (a)
    reproducible across engines and reruns, (b) stable under corpus
    growth (a doc's split never changes when other docs arrive), and
    (c) leakage-auditable (the md5 namespace 'split:' is disjoint from
    the sampling ops' namespaces). Zero-shuffle assignment; the summary
    is a bounded source x split rollup the release report publishes."""
    d = _t(spark, sf_dir, "documents")
    bucket = portable_hash60(
        F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
    ) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@op(
    "record_linkage_parts",
    oracle="""
    WITH dirty AS (
        SELECT p_partkey AS dirty_id,
               substr(p_name, 1, CAST(p_partkey % length(p_name) AS INTEGER))
               || substr(p_name, CAST(p_partkey % length(p_name) AS INTEGER) + 2)
                   AS dirty_name
        FROM part WHERE p_partkey % 3 = 0
    ), cand AS (
        SELECT d.dirty_id, d.dirty_name, m.p_partkey,
               levenshtein(d.dirty_name, m.p_name) AS dist
        FROM dirty d
        JOIN part m
          ON abs(length(m.p_name) - length(d.dirty_name)) <= 2
        WHERE levenshtein(d.dirty_name, m.p_name) <= 2
    ), best AS (
        SELECT dirty_id, dirty_name, p_partkey, dist,
               row_number() OVER (PARTITION BY dirty_id
                                  ORDER BY dist, p_partkey) AS rn
        FROM cand
    )
    SELECT dirty_id, dirty_name,
           CAST(p_partkey AS BIGINT) AS matched_partkey,
           CAST(dist AS INTEGER) AS dist
    FROM best WHERE rn = 1
    """,
    tags=("fuzzy", "join", "linkage"),
)
def record_linkage_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage (the practical face of entity resolution): match
    DIRTY incoming records against a clean master. The dirty side is
    synthesized deterministically — every 3rd part name loses one
    character at a key-derived position — then resolved by length-band
    blocking (|len diff| <= 2 is LOSSLESS for edit distance <= 2, and
    the true parent is always at distance 1, so restricting candidates
    cannot change the argmin), an edit-distance verify on candidates
    only, and a deterministic best-match pick (min distance, key
    tiebreak). At 100 TB the blocking join is the point: candidates
    come from a band equi-join, never the dirty x master cross
    product."""
    part = _t(spark, sf_dir, "part")
    dirty = part.filter(F.col("p_partkey") % 3 == 0).select(
        F.col("p_partkey").alias("dirty_id"),
        F.concat(
            F.expr("substr(p_name, 1, CAST(p_partkey % length(p_name) AS INT))"),
            F.expr("substr(p_name, CAST(p_partkey % length(p_name) AS INT) + 2)"),
        ).alias("dirty_name"),
    )
    master = part.select(
        "p_partkey", "p_name", F.length("p_name").alias("blk")
    )
    # blocking as a true EQUI-join: each dirty record fans out to its 5
    # admissible length buckets (constant multiplier), so candidates
    # come from hash-partitioned buckets — no inequality nested loop
    dirty_b = dirty.withColumn(
        "blk",
        F.explode(
            F.array(*[F.length("dirty_name") + d for d in range(-2, 3)])
        ),
    )
    cand = (
        dirty_b.join(master, "blk")
        .withColumn("dist", F.levenshtein("dirty_name", "p_name"))
        .filter(F.col("dist") <= 2)
    )
    w = Window.partitionBy("dirty_id").orderBy("dist", "p_partkey")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "dirty_id", "dirty_name",
            F.col("p_partkey").cast("long").alias("matched_partkey"),
            F.col("dist").cast("int").alias("dist"),
        )
    )


WS_TOPK = 50
_WS_DEN = float(2**60 + 1)

_WEIGHTED_SAMPLE_SQL = f"""
    WITH h AS (
        SELECT doc_id, n_chars,
               ('0x' || substr(md5('estopk:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   AS hv
        FROM documents WHERE n_chars > 0
    ), p AS (
        SELECT doc_id, n_chars,
               CAST(round(ln((hv + 1) / {_WS_DEN!r}) * 1000000) AS BIGINT)
                   AS lnu_micro
        FROM h
    ), k AS (
        SELECT doc_id, n_chars,
               CAST(lnu_micro AS DOUBLE) / n_chars AS pri
        FROM p
    )
    SELECT doc_id, n_chars, pri,
           row_number() OVER (ORDER BY pri DESC, doc_id) AS rank
    FROM k ORDER BY pri DESC, doc_id LIMIT {WS_TOPK}
"""


@op(
    "weighted_sample_topk",
    oracle=_WEIGHTED_SAMPLE_SQL,
    tags=("sampling", "training-data"),
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis): take
    the top-k documents by priority u^(1/w) — equivalently ln(u)/w —
    where w = n_chars, so long documents are proportionally more likely
    but nothing is ever drawn twice. The uniform u is md5-derived
    (deterministic, like every sampler here); ln is rounded ONCE to
    integer micro-nats and the ordering key is then an exact-int /
    exact-int IEEE division — portable where raw libm outputs are not.
    Plan: narrow map + TakeOrderedAndProject (per-partition top-k, k
    rows to the driver — the distributed-reservoir shape); the rank
    window runs on the already-limited k rows."""
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    hv = portable_hash60(F.concat(F.lit("estopk:"), F.col("doc_id").cast("string")))
    lnu_micro = F.round(F.log((hv + 1) / F.lit(_WS_DEN)) * 1000000).cast("long")
    scored = d.select(
        "doc_id",
        "n_chars",
        (lnu_micro.cast("double") / F.col("n_chars")).alias("pri"),
    )
    top = scored.orderBy(F.desc("pri"), F.asc("doc_id")).limit(WS_TOPK)
    w = Window.orderBy(F.desc("pri"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w))
