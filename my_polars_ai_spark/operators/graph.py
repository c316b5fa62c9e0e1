"""Graph analytics over the near-duplicate graph (training-data
pipeline extensions; no counterpart in the reference — its only graph
surface is whatever LLM-generated code a user runs through the exec
sandbox, cf. /root/reference/polarsai/engine.py:1).

The substrate is the MinHash+LSH near-dup pair list (dedup.py): an
undirected graph whose components are duplicate clusters.  Three
classic distributed-graph shapes complete the family started by
pagerank_near_dup / near_dup_triangle_stats / local_clustering_coefficient:

- **link prediction** (Adamic-Adar over open wedges) — pairs the
  banding stage plausibly MISSED, recovered from triadic closure;
- **multi-hop reachability** (bounded BFS) — the transitive blast
  radius of benchmark contamination through near-dup chains;
- **label propagation** (one synchronous round) — language-label
  consistency inside duplicate neighborhoods.

Scale notes: every step is an equi-join keyed on a vertex id — wedge
generation fans out by the middle vertex's degree (bounded by cluster
size, never |V|^2), BFS joins the frontier onto the edge list
Pregel-style, and the vote aggregation is one shuffle on the receiving
vertex.  All scores are exact integers (micro-unit ln weights rounded
once), so results hash-compare bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_polars_ai_spark.operators.base import Op, ROUND_RATIO, make_registrar
from my_polars_ai_spark.operators.dedup import (
    _GRAPH_CTES,
    MINHASH_THRESHOLD,
    _neardup_edges,
    minhash_lsh_pairs,
)
from my_polars_ai_spark.operators.text import benchmark_contamination
from my_polars_ai_spark.sources.tables import load_table as _t

OPS: dict[str, Op] = {}
op = make_registrar(OPS)

ADAMIC_ADAR_TOPK = 50

# The Adamic-Adar scoring after `w AS (`: 1/ln(deg) middle-vertex
# weights, wedge candidates and the top-k pairs that are not yet edges.
_AA_BODY = f"""        SELECT node, CAST(round(1000000 / ln(deg)) AS BIGINT) AS w_micro
        FROM deg WHERE deg >= 2
    ), wedge AS (
        SELECT e1.dst AS doc_a, e2.dst AS doc_b, w.w_micro
        FROM edges e1
        JOIN edges e2 ON e2.src = e1.src AND e1.dst < e2.dst
        JOIN w ON w.node = e1.src
    ), cand AS (
        SELECT doc_a, doc_b,
               CAST(count(*) AS BIGINT) AS n_common,
               CAST(sum(w_micro) AS BIGINT) AS aa_micro
        FROM wedge GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b, c.n_common, c.aa_micro
    FROM cand c
    LEFT JOIN pairs p ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
    WHERE p.doc_a IS NULL
    ORDER BY c.aa_micro DESC, c.doc_a, c.doc_b
    LIMIT {ADAMIC_ADAR_TOPK}
"""


@op(
    "neardup_adamic_adar",
    oracle=f"""
    WITH {_GRAPH_CTES}, w AS (
        -- ln(deg) weight in micro-units, rounded ONCE; deg >= 2 is
        -- lossless (a degree-1 vertex cannot be a wedge middle)
{_AA_BODY}    """,
    tags=("graph", "dedup", "link-prediction"),
)
def neardup_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the near-dup graph: the top-50
    document pairs that are NOT near-dup edges but share common
    neighbors, scored by sum over common neighbors of 1/ln(degree) —
    rare shared neighbors count more than promiscuous ones.  This is
    the triadic-closure recall patch for LSH banding: a pair the bands
    missed (P(miss) = (1-j^r)^b > 0) but whose two endpoints each
    matched a third doc is surfaced here for re-verification, lifting
    effective recall without re-running a finer (more expensive)
    banding.  Wedge generation is an equi-join on the MIDDLE vertex, so
    fan-out is bounded by per-vertex degree (cluster size), never
    |V|^2; the known-edge removal is a left-anti hash join; output is
    top-k with total tiebreak.  At 100 TB the standard hardening is a
    degree cap on middles (a celebrity vertex contributes deg^2 wedges
    but ~0 weight at 1/ln(deg)) — the plan shape is unchanged.
    Weights are micro-unit integers rounded once, sums exact."""
    edges = _neardup_edges(spark, sf_dir).cache()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    w = deg.filter(F.col("deg") >= 2).select(
        F.col("src").alias("node"),
        F.round(F.lit(1000000) / F.log("deg")).cast("bigint").alias("w_micro"),
    )
    e1 = edges.select(F.col("src").alias("node"), F.col("dst").alias("doc_a"))
    e2 = edges.select(F.col("src").alias("node"), F.col("dst").alias("doc_b"))
    cand = (
        e1.join(e2, "node")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .join(w, "node")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("w_micro").alias("aa_micro"),
        )
    )
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return (
        cand.join(pairs, ["doc_a", "doc_b"], "left_anti")
        .orderBy(F.desc("aa_micro"), "doc_a", "doc_b")
        .limit(ADAMIC_ADAR_TOPK)
    )


# Bounded-BFS depth: near-dup chains longer than this are already
# over-merge territory (see near_dup_triangle_stats' transitivity note).
BLAST_HOPS = 3

# Seed set: training docs sharing a distinct 3-gram with the src0
# benchmark slice — the contamination oracle's hit list (text.py).
_CONTAM_SEEDS_SQL = """contam AS MATERIALIZED (
        SELECT DISTINCT g.doc_id
        FROM (
            SELECT doc_id, source,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                       i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS gram
            FROM documents
        ) g
        JOIN (
            SELECT DISTINCT unnest(list_distinct(list_transform(
                       range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                       i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS gram
            FROM documents WHERE source = 'src0'
        ) b USING (gram)
        WHERE g.source <> 'src0'
    )"""


def _blast_oracle() -> str:
    ctes = [_GRAPH_CTES, _CONTAM_SEEDS_SQL,
            "r0 AS (SELECT doc_id AS node, 0 AS h FROM contam)"]
    for i in range(BLAST_HOPS):
        ctes.append(
            f"""r{i + 1} AS (
        SELECT node, min(h) AS h FROM (
            SELECT node, h FROM r{i}
            UNION ALL
            SELECT e.dst AS node, r.h + 1 AS h
            FROM edges e JOIN r{i} r ON r.node = e.src
        ) GROUP BY node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node AS doc_id, CAST(h AS BIGINT) AS hops
    FROM r{BLAST_HOPS}"""
    )


@op(
    "contamination_blast_radius",
    oracle=_blast_oracle(),
    tags=("graph", "contamination", "bfs", "pipeline"),
)
def contamination_blast_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive contamination audit: bounded BFS (3 hops) from the
    benchmark-contaminated documents (benchmark_contamination's hit
    list) through near-dup edges, emitting each reached doc with its
    minimum hop distance.  Dropping only the direct 3-gram hits leaves
    their near-duplicates — and THEIR near-duplicates — in the training
    set; this op is the decontamination pass's transitive closure,
    bounded because duplicate chains deeper than ~3 hops are already
    over-merge territory.  Pregel layout: each round joins the frontier
    table onto the edge list (equi-join on the vertex id) and takes a
    min-hop aggregate — per-round cost is |frontier-adjacent edges|,
    never |V|x|V|; lineage truncated per round with localCheckpoint
    like pagerank_near_dup.  Hop counts are exact integers."""
    seeds = benchmark_contamination(spark, sf_dir).select("doc_id")
    edges = _neardup_edges(spark, sf_dir).cache()
    reach = seeds.select(
        F.col("doc_id").alias("node"), F.lit(0).cast("bigint").alias("h")
    ).localCheckpoint()
    for _ in range(BLAST_HOPS):
        step = (
            edges.join(reach.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), (F.col("h") + 1).alias("h"))
        )
        reach = (
            reach.unionByName(step)
            .groupBy("node")
            .agg(F.min("h").alias("h"))
            .localCheckpoint()
        )
    return reach.select(F.col("node").alias("doc_id"), F.col("h").alias("hops"))


@op(
    "neardup_label_consistency",
    oracle=f"""
    WITH {_GRAPH_CTES}, langs AS (
        SELECT doc_id, lang FROM documents
    ), votes AS (
        SELECT e.src AS doc_id, l.lang AS nb_lang, count(*) AS n
        FROM edges e JOIN langs l ON l.doc_id = e.dst
        GROUP BY 1, 2
    ), ranked AS (
        SELECT doc_id, nb_lang, n,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY n DESC, nb_lang ASC) AS rn,
               CAST(sum(n) OVER (PARTITION BY doc_id) AS BIGINT) AS n_neighbors
        FROM votes
    )
    SELECT r.doc_id, l.lang, r.nb_lang AS voted_lang, r.n_neighbors,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n_agree
    FROM ranked r
    JOIN langs l ON l.doc_id = r.doc_id
    LEFT JOIN votes a ON a.doc_id = r.doc_id AND a.nb_lang = l.lang
    WHERE r.rn = 1
    """,
    tags=("graph", "dedup", "label-propagation", "quality"),
)
def neardup_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synchronous label-propagation round over the near-dup graph,
    as a language-label consistency audit: for every document with at
    least one near-dup neighbor, the plurality language among its
    neighbors (tiebreak: lexicographic, so the vote is deterministic),
    its own label, neighbor count, and how many neighbors agree with
    its own label.  voted_lang <> lang flags either a cross-lingual
    near-duplicate (translation pair caught by shared named entities)
    or a langid error — both are review queues a multilingual pipeline
    needs.  One shuffle to aggregate votes on the receiving vertex, a
    per-vertex rank window (partitioned by doc — never global), and a
    broadcast-size lang join; the iterated fixpoint version is this op
    in the pagerank_near_dup loop skeleton.  Counts exact."""
    langs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    edges = _neardup_edges(spark, sf_dir)
    votes = (
        edges.join(
            langs.select(F.col("doc_id").alias("dst"), F.col("lang").alias("nb_lang")),
            "dst",
        )
        .groupBy(F.col("src").alias("doc_id"), "nb_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .cache()
    )
    w = Window.partitionBy("doc_id")
    ranked = (
        votes.withColumn(
            "rn",
            F.row_number().over(w.orderBy(F.desc("n"), F.asc("nb_lang"))),
        )
        .withColumn("n_neighbors", F.sum("n").over(w))
        .filter(F.col("rn") == 1)
    )
    agree = votes.select(
        "doc_id", F.col("nb_lang").alias("lang"), F.col("n").alias("n_same")
    )
    return (
        ranked.join(langs, "doc_id")
        .join(agree, ["doc_id", "lang"], "left")
        .select(
            "doc_id",
            "lang",
            F.col("nb_lang").alias("voted_lang"),
            "n_neighbors",
            F.coalesce("n_same", F.lit(0)).cast("bigint").alias("n_agree"),
        )
    )


# The Adamic-Adar prediction list, as a reusable oracle CTE body (the
# op's own SELECT, minus the ORDER/LIMIT wrapper it shares).
_AA_TOPK_SQL = f"""
    WITH {_GRAPH_CTES}, w AS (
{_AA_BODY}"""


@op(
    "adamic_adar_verified_pairs",
    oracle=f"""
    WITH aa AS MATERIALIZED ({_AA_TOPK_SQL}
    ), toks AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
        WHERE doc_id IN (SELECT doc_a FROM aa UNION SELECT doc_b FROM aa)
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM toks GROUP BY 1
    ), inter AS (
        SELECT aa.doc_a, aa.doc_b, count(tb.tok) AS ni
        FROM aa
        LEFT JOIN toks ta ON ta.doc_id = aa.doc_a
        LEFT JOIN toks tb ON tb.doc_id = aa.doc_b AND tb.tok = ta.tok
        GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b, aa.n_common, aa.aa_micro,
           round(i.ni * 1.0 / (sa.n + sb.n - i.ni), {ROUND_RATIO}) AS jaccard,
           CAST((i.ni * 1.0 / (sa.n + sb.n - i.ni) >= {MINHASH_THRESHOLD})::INT
                AS INT) AS is_near_dup
    FROM inter i
    JOIN aa ON aa.doc_a = i.doc_a AND aa.doc_b = i.doc_b
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    """,
    tags=("graph", "dedup", "link-prediction", "verify"),
)
def adamic_adar_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verify stage for the link-prediction recall patch: compute
    the EXACT token Jaccard of the 50 Adamic-Adar-predicted pairs and
    flag which clear the near-dup threshold — closing the
    candidates-then-verify loop the LSH family lives by (predictions
    are hypotheses; only an exact check on the bounded candidate set
    promotes them to edges). Cost discipline: the token join is
    restricted to the <=100 docs in the prediction list (semi-join
    pushdown before the token explode meets anything), so verification
    is candidate-bounded no matter the corpus size. A pair's endpoints
    can share zero tokens (they were only ever SECOND-degree related) —
    LEFT joins keep the row, jaccard 0."""
    aa = neardup_adamic_adar(spark, sf_dir).cache()
    docs = aa.select(F.col("doc_a").alias("doc_id")).union(
        aa.select(F.col("doc_b").alias("doc_id"))
    ).distinct()
    d = _t(spark, sf_dir, "documents")
    toks = (
        d.join(docs, "doc_id", "leftsemi")
        .select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok"))
        .filter(F.col("tok") != "")
        .cache()
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("tok").alias("tok_a"))
    tb = toks.select(F.col("doc_id").alias("tb_doc"), F.col("tok").alias("tok_b"))
    inter = (
        aa.join(ta, "doc_a", "left")
        .join(tb, (F.col("doc_b") == F.col("tb_doc")) & (F.col("tok_a") == F.col("tok_b")), "left")
        .drop("tb_doc")
        .groupBy("doc_a", "doc_b", "n_common", "aa_micro")
        .agg(F.count("tok_b").alias("ni"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("ni") / (F.col("na") + F.col("nb") - F.col("ni"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "aa_micro",
            F.round(jac, ROUND_RATIO).alias("jaccard"),
            (jac >= MINHASH_THRESHOLD).cast("int").alias("is_near_dup"),
        )
    )


@op(
    "decontaminated_manifest",
    oracle=_blast_oracle().replace(
        f"""
    SELECT node AS doc_id, CAST(h AS BIGINT) AS hops
    FROM r{BLAST_HOPS}""",
        f""" , reached AS (
        SELECT node AS doc_id FROM r{BLAST_HOPS}
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum((r.doc_id IS NOT NULL)::INT) AS BIGINT) AS n_dropped,
           CAST(sum((r.doc_id IS NULL)::INT) AS BIGINT) AS n_retained,
           CAST(sum(CASE WHEN r.doc_id IS NULL THEN d.n_chars ELSE 0 END)
                AS BIGINT) AS retained_chars
    FROM documents d
    LEFT JOIN reached r ON r.doc_id = d.doc_id
    WHERE d.source <> 'src0'
    GROUP BY 1""",
    ),
    tags=("graph", "contamination", "pipeline", "manifest"),
)
def decontaminated_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination ACTION: per-source ledger of training docs
    dropped because they sit within 3 near-dup hops of a
    benchmark-contaminated doc (contamination_blast_radius's reach
    set), and what survives — the artifact a data curator actually
    ships after the detect (benchmark_contamination) and audit
    (blast radius) stages. Transitive dropping is the point: removing
    only direct 3-gram hits leaves their near-duplicates in the
    corpus. One left-anti-shaped join of the corpus against the
    bounded reach set, aggregated to the source grain; the benchmark
    slice itself (src0) is excluded from the training ledger by
    definition."""
    reached = contamination_blast_radius(spark, sf_dir).select("doc_id", F.lit(1).alias("hit"))
    d = _t(spark, sf_dir, "documents").filter(F.col("source") != "src0")
    return (
        d.join(reached, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_retained"),
            F.sum(F.when(F.col("hit").isNull(), F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("retained_chars"),
        )
    )
