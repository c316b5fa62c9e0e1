"""Deduplication operators — exact, keyed, fingerprint, n-gram Jaccard,
MinHash+LSH, SimHash (training-data pipeline extensions; BASELINE.json
north-star, beyond the reference's dropDuplicates surface).

Portability contract: every hash is derived from md5 (identical in Spark
and DuckDB), so even the MinHash/LSH and SimHash pipelines are fully
oracle-checked — `portable_hash60` maps a string to a 60-bit integer via
the first 15 hex chars of its md5 on both engines.

Scale notes: all pipelines are shuffle-on-key aggregations over
(doc, token/shingle) pairs. MinHash+LSH is the 100 TB path: candidate
generation joins on band signatures (tiny) instead of the quadratic
token join; the exact-Jaccard verify only touches candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_polars_ai_spark.operators.base import (
    RDZV_SHARDS,
    ROUND_RATIO,
    Op,
    exact_floor_div,
    make_registrar,
    oracle_ratio_round,
    oracle_signed_ratio_round,
    ratio_round,
    session_memo,
    signed_ratio_round,
)
from my_polars_ai_spark.sources.tables import load_table as _t

OPS: dict[str, Op] = {}
op = make_registrar(OPS)

N_PERMS = 16  # minhash permutations
# Banding recall contract: with b bands of r rows and min_band_matches=1,
# P(pair becomes a candidate | true jaccard j) = 1 - (1 - j^r)^b. The
# 2x8 default gives recall ≈ 0.886 at the 0.95 threshold — a deliberate
# tradeoff on this pathologically self-similar corpus (median pairwise
# j ≈ 0.87: 4x4 banding admits ~97% of ALL pairs as candidates, 2x8
# roughly half). The oracle mirrors the same algorithm, so a green
# compare certifies determinism, not retrieval recall; tune (N_PERMS,
# N_BANDS, min_band_matches) per corpus.
N_BANDS = 2
MINHASH_THRESHOLD = 0.95
NGRAM_THRESHOLD = 0.5


def portable_hash60(col: Column) -> Column:
    """60-bit integer hash from md5 — identical in Spark and DuckDB
    (DuckDB twin: ('0x' || substr(md5(x), 1, 15))::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, tok) pairs from the documents table."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    ).filter(F.col("tok") != "")


def _minhash_sig(toks: DataFrame, n_perms: int, *extra_aggs: Column) -> DataFrame:
    """Per-doc minima ``mh0..`` of ``n_perms`` md5 permutations over the
    (doc_id, tok) pairs, plus the distinct-token count ``n`` and any
    ``extra_aggs``.

    Each DISTINCT token is hashed once per permutation, as n_perms WIDE
    columns on a small vocab table (vocab << occurrences on any corpus),
    broadcast-joined onto the (doc, token) pairs, and the per-column
    mins are taken — the whole signature costs ONE shuffle of
    |doc,token| rows instead of an exploded |doc,token| x perms shuffle.
    `n` rides the SAME aggregation for free (toks is one row per doc and
    distinct token), so a size-ratio prefilter never needs a
    corpus-keyed sizes join."""
    vocab_wide = toks.select("tok").distinct()
    for i in range(n_perms):
        vocab_wide = vocab_wide.withColumn(
            f"h{i}", portable_hash60(F.concat(F.lit(f"{i}:"), F.col("tok")))
        )
    return (
        # hint kept: without it cluster_lang_purity shuffles 804,846 -> 808,044 B; sf0.1, 10 pairs (dedup_minhash_lsh): hint won 6/10, 5.14 vs 5.49 s
        toks.join(F.broadcast(vocab_wide), "tok")
        .groupBy("doc_id")
        .agg(
            *[F.min(f"h{i}").alias(f"mh{i}") for i in range(n_perms)],
            F.count(F.lit(1)).alias("n"),
            *extra_aggs,
        )
    )


def _band_structs(n_perms: int, n_bands: int) -> list[Column]:
    """One ``(band, band_sig)`` struct per band: the md5 of the band's
    comma-joined ``mh`` columns."""
    rows_per_band = n_perms // n_bands
    return [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"mh{i}").cast("string")
                        for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                )
            ).alias("band_sig"),
        )
        for b in range(n_bands)
    ]


def _band_rows(sig: DataFrame, n_perms: int, n_bands: int) -> DataFrame:
    """Cached (doc_id, n, band, band_sig) rows of a _minhash_sig frame."""
    band_structs = _band_structs(n_perms, n_bands)
    return (
        sig.select("doc_id", "n", F.explode(F.array(*band_structs)).alias("bs"))
        .select(
            "doc_id",
            "n",
            F.col("bs.band").alias("band"),
            F.col("bs.band_sig").alias("band_sig"),
        )
        .cache()
    )


@op(
    "dedup_exact_text",
    oracle="""
    SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
    tags=("dedup",),
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by full text: hash group-by keeping the lowest id —
    the canonical first pass of a training-data pipeline (pure shuffle-on-
    hash(text), no comparison of payloads)."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies")
    ).select("keep_doc_id", "n_copies")


@op(
    "dedup_keyed_first",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey
    FROM (
        SELECT l_orderkey, l_linenumber, l_partkey,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
        FROM lineitem
    ) WHERE rn = 1
    """,
    tags=("dedup", "window"),
)
def dedup_keyed_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic keyed dedup (dropDuplicates with a defined survivor):
    keep the first line per order under a total ordering — unlike
    dropDuplicates, the surviving row is well-defined (l_linenumber alone
    is not unique in this corpus, so the ordering includes part/supp)."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey", "l_suppkey")
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_orderkey", "l_linenumber", "l_partkey")
    )


@op(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM documents
    """,
    tags=("dedup", "text"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint (lowercase + whitespace collapse +
    md5): join/group on the 16-byte digest instead of the document body."""
    d = _t(spark, sf_dir, "documents")
    normalized = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return d.select("doc_id", F.md5(normalized).alias("fingerprint"))


# Word 3-gram shingles per doc, shingle-set sizes and the shared-shingle
# count of every co-occurring pair.
_SHINGLE_CTES = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(ts) - 1),
                                     i -> ts[i] || '_' || ts[i+1] || '_' || ts[i+2])) AS s
        FROM toks
        WHERE len(ts) >= 3
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )"""


@op(
    "dedup_ngram_jaccard",
    oracle=f"""{_SHINGLE_CTES}
    SELECT doc_a, doc_b,
           round(ni * 1.0 / (sa.n + sb.n - ni), {ROUND_RATIO}) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE ni * 1.0 / (sa.n + sb.n - ni) >= {NGRAM_THRESHOLD}
    """,
    tags=("dedup", "similarity"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-gram (word shingle) Jaccard >= 0.5.

    Quadratic in co-occurring shingles — correct but the brute-force
    baseline; dedup_minhash_lsh is the sub-quadratic scale path.
    """
    d = _t(spark, sf_dir, "documents")
    ts = F.split("text", " ")
    shingles = F.when(
        F.size(ts) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(ts) - 2),
            lambda i: F.concat_ws(
                "_", F.element_at(ts, i), F.element_at(ts, i + 1), F.element_at(ts, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # cached: sh feeds the sizes aggregate and both sides of the pair join
    sh = d.select("doc_id", F.explode(F.array_distinct(shingles)).alias("s")).cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "s")
    b = sh.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("ni") / (F.col("na") + F.col("nb") - F.col("ni"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= NGRAM_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, ROUND_RATIO).alias("jaccard"))
    )


# The DuckDB twin of _doc_tokens: distinct (doc_id, tok) pairs.
_TOKS_CTE = """
    WITH toks AS (
        SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ) WHERE tok <> ''
    )"""

# ... then N_PERMS permutation minima per doc and their N_BANDS band
# signatures (the oracle side of _minhash_sig and _band_structs).
_MINHASH_BANDS_CTES = f"""{_TOKS_CTE}, perms AS (
        SELECT unnest(range({N_PERMS})) AS i
    ), hashes AS (
        SELECT doc_id, i,
               ('0x' || substr(md5(i::VARCHAR || ':' || tok), 1, 15))::BIGINT AS h
        FROM toks CROSS JOIN perms
    ), sig AS (
        SELECT doc_id, i, min(h) AS mh FROM hashes GROUP BY doc_id, i
    ), bands AS (
        SELECT doc_id, i // {N_PERMS // N_BANDS} AS band,
               md5(string_agg(mh::VARCHAR, ',' ORDER BY i)) AS band_sig
        FROM sig GROUP BY doc_id, i // {N_PERMS // N_BANDS}
    )"""

# The common MinHash/LSH candidate pipeline (tokens -> permutation
# minima -> band signatures -> band-collision candidates -> size-ratio
# prefilter -> exact-intersection counts), shared as ONE fragment so
# every oracle that consumes the candidate structure
# (_MINHASH_PAIRS_SQL below and _TRIPLET_SQL, which also needs the
# verify stage's REJECTS) stays in lockstep with any future change to
# the pipeline — they differ only in their final SELECTs.
_MINHASH_CAND_CTES = f"""{_MINHASH_BANDS_CTES}, cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                     AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= 1
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM toks GROUP BY 1
    ), pre AS (
        -- lossless size-ratio prefilter: j >= t implies min(n)/max(n) >= t
        SELECT c.doc_a, c.doc_b, sa.n AS na, sb.n AS nb
        FROM cand c
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
        WHERE least(sa.n, sb.n) >= {MINHASH_THRESHOLD} * greatest(sa.n, sb.n)
    ), inter AS (
        SELECT p.doc_a, p.doc_b, p.na, p.nb, count(*) AS ni
        FROM pre p
        JOIN toks ta ON ta.doc_id = p.doc_a
        JOIN toks tb ON tb.doc_id = p.doc_b AND tb.tok = ta.tok
        GROUP BY 1, 2, 3, 4
    )"""

# Shared by the dedup_minhash_lsh oracle and the clustering oracle (which
# embeds the whole pair query as a derived table inside a recursive CTE).
_MINHASH_PAIRS_SQL = f"""
    {_MINHASH_CAND_CTES}
    SELECT doc_a, doc_b,
           round(ni * 1.0 / (na + nb - ni), {ROUND_RATIO}) AS jaccard
    FROM inter
    WHERE ni * 1.0 / (na + nb - ni) >= {MINHASH_THRESHOLD}
    """


# Connected components of the MinHash pair graph as a recursive label
# closure: min(label) per node is its component id.
_CC_WALK_CTES = f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})
    ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ), walk(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, w.label
        FROM walk w JOIN edges e ON e.src = w.node
    )"""
_CC_CLUSTERS_CTES = f"""{_CC_WALK_CTES}, clusters AS (
        SELECT node AS doc_id, min(label) AS cluster_id
        FROM walk GROUP BY node
    )"""

# The symmetrized MinHash pair graph and each node's degree.
_SYM_DEG_CTES = f"""
    WITH pairs AS (
        SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})
    ), sym AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ), deg AS (
        SELECT a AS doc_id, CAST(count(*) AS HUGEINT) AS d FROM sym GROUP BY 1
    )"""


@op(
    "dedup_minhash_lsh",
    oracle=_MINHASH_PAIRS_SQL,
    tags=("dedup", "minhash", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection, fully deterministic and
    oracle-checked (portable md5-based hash family).

    token set -> N_PERMS minhash perms -> N_BANDS band signatures ->
    band-signature equi-join for candidates (count of matching bands >=
    min_band_matches) -> lossless size-ratio prefilter -> exact-Jaccard
    verify at >= threshold. The band join replaces the quadratic
    all-pairs comparison: at 100 TB only near-identical docs collide in
    a band, so the verify stage is linear-ish in true dups. Recall
    contract: see the banding note at the top of this module.
    """
    return minhash_lsh_pairs(spark, sf_dir)


def minhash_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    n_perms: int = N_PERMS,
    n_bands: int = N_BANDS,
    threshold: float = MINHASH_THRESHOLD,
    min_band_matches: int = 1,
    with_verdict: bool = False,
) -> DataFrame:
    """Parameterized MinHash+LSH pipeline behind dedup_minhash_lsh.

    ``min_band_matches``: require a pair to collide in at least k bands
    before the verify stage — the count is free (the candidate dedup is a
    group-by either way) and on very self-similar corpora k=2 trades a
    little recall (P = sum_{i>=k} C(b,i) p^i (1-p)^(b-i), p = j^r) for a
    much smaller verify fan-in. The default k=1 is classic LSH.

    The size-prefiltered candidate frame (``paired``) is memoized per
    (session, sf_dir, params): its cached band and token-array
    subtrees ARE the pipeline's cost, and every consumer in a
    long-lived session (the dedup canary, the triplet miner and its
    export manifest, the cross-shard report, the cluster ops) must
    resolve the SAME cache entries.
    """
    paired = _build_lsh_paired(
        spark, sf_dir, n_perms, n_bands, threshold, min_band_matches
    )
    ni = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = ni / (F.col("na") + F.col("nb") - ni)
    if with_verdict:
        # every size-prefiltered candidate, with the verify verdict
        # instead of the filter — the hard-negative miner's input
        return paired.select(
            "doc_a",
            "doc_b",
            F.round(jac, ROUND_RATIO).alias("jaccard"),
            (jac >= threshold).cast("int").alias("is_dup"),
        )
    return paired.filter(jac >= threshold).select(
        "doc_a", "doc_b", F.round(jac, ROUND_RATIO).alias("jaccard")
    )


def _undirected(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """(src, dst) edges of an (a, b) pair list, both directions."""
    return pairs.select(F.col(a).alias("src"), F.col(b).alias("dst")).union(
        pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    )


def _neardup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst) edges of the MinHash pair graph, both directions."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return _undirected(pairs, "doc_a", "doc_b")


def _min_label_components(edges: DataFrame, labels: DataFrame, what: str) -> DataFrame:
    """Min-label propagation over (src, dst) ``edges`` to a fixpoint:
    each round every (node, comp) row takes the min of its own label
    and its in-neighbors' — one edge join + partial-agg min, lineage
    truncated by localCheckpoint. Labels only decrease, so an unchanged
    sum is the fixpoint proof; 50 rounds is a safety bound only."""
    prev_sum = labels.agg(F.sum("comp")).collect()[0][0] or 0
    for _ in range(50):
        nbr_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        labels = (
            labels.join(nbr_min, labels.node == nbr_min.dst, "left")
            .select(
                "node",
                F.least("comp", F.coalesce("nbr_comp", "comp")).alias("comp"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("comp")).collect()[0][0] or 0
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(f"{what} did not converge in 50 rounds")
    return labels


def _sym_deg(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The cached MinHash pairs, their symmetrized (a, b) edges and each
    node's exact degree ``d`` (the Spark side of _SYM_DEG_CTES)."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b").cache()
    sym = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")).unionAll(
        pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("d")
    )
    return pairs, sym, deg


@session_memo
def _build_lsh_paired(
    spark: SparkSession,
    sf_dir: str,
    n_perms: int = N_PERMS,
    n_bands: int = N_BANDS,
    threshold: float = MINHASH_THRESHOLD,
    min_band_matches: int = 1,
):
    """The LSH pipeline through the verify join's input (candidates
    with both token arrays attached), plus its two cached subtrees
    (bands, token arrays) — see minhash_lsh_pairs, which applies the
    verdict/filter tail."""
    toks = _doc_tokens(spark, sf_dir)
    # cache(): bands feeds both sides of the candidate self-join and the
    # token arrays feed both sides of the verify join — without it Spark
    # re-executes the scan->tokenize->sign subtree once per reference
    # (measured 2.5x slower end-to-end).
    bands = _band_rows(_minhash_sig(toks, n_perms), n_perms, n_bands)
    # Each band row carries its doc's size (8 bytes on an already-wide
    # shuffle row), so the self-join emits (doc_a, doc_b, na, nb)
    # directly — the size-ratio prefilter costs ZERO extra joins, where
    # a corpus-keyed sizes join would shuffle the candidate set twice
    # (and a broadcast of it would not survive a corpus-sized doc count).
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "band", "band_sig"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "band", "band_sig"
    )
    # Group-by before verify: a pair can collide in up to n_bands bands,
    # and verifying duplicates costs more than this one pair-key shuffle
    # (measured: skipping it and deduping after verify was 3x slower at
    # sf0.1 on this corpus). Counting matches is free here and doubles as
    # the min_band_matches prefilter.
    # Lossless size-ratio prefilter, applied IN the candidate
    # aggregation: ni <= min(na,nb) and union >= max, so j >= t implies
    # min/max >= t. Filtering here spares the wide token arrays for
    # ~60% of candidates on this corpus (2.37M -> 0.96M at sf0.1).
    pre = (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_bands_matched"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
        .filter(F.col("n_bands_matched") >= min_band_matches)
        .filter(F.least("na", "nb") >= threshold * F.greatest("na", "nb"))
        .select("doc_a", "doc_b", "na", "nb")
    )
    tok_arrays = toks.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("tok")).alias("toks")
    ).cache()
    # Verify stage: exact Jaccard via array_intersect on per-doc token
    # arrays. Joining surviving pairs against the (compact) token-array
    # table twice beats re-exploding to (pair, token) rows — the token
    # arrays ride along the pair rows and the set math stays in the JVM.
    # At 100 TB the token-array table is doc-count-sized, not corpus-sized.
    arr_a = tok_arrays.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    arr_b = tok_arrays.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    return pre.join(arr_a, "doc_a").join(arr_b, "doc_b"), (bands, tok_arrays)


_SIMHASH_SQL = f"""{_TOKS_CTE}, tok_vals AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 4))::BIGINT AS v FROM toks
    ), bits AS (
        SELECT doc_id, b,
               sum(CASE WHEN CAST(floor(v / power(2, b)) AS BIGINT) % 2 = 1
                        THEN 1 ELSE -1 END) AS bal
        FROM tok_vals CROSS JOIN (SELECT unnest(range(16)) AS b)
        GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN bal > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS simhash16
    FROM bits
    GROUP BY doc_id
"""


@op(
    "simhash_signature",
    oracle=_SIMHASH_SQL,
    tags=("dedup", "simhash"),
)
def simhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (md5-derived bit votes over the token
    set). Near-dups share signatures within small Hamming distance;
    identical signatures give free dup buckets via a plain group-by."""
    return _simhash16(spark, sf_dir)


def _simhash16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash16) — shared by the signature op and the pairing op."""
    toks = _doc_tokens(spark, sf_dir)
    v = F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("bigint")
    bits = (
        toks.select("doc_id", v.alias("v"), F.explode(F.sequence(F.lit(0), F.lit(15))).alias("b"))
        .groupBy("doc_id", "b")
        .agg(
            F.sum(
                F.when(
                    F.floor(F.col("v") / F.pow(F.lit(2.0), F.col("b"))).cast("bigint") % 2 == 1, 1
                ).otherwise(-1)
            ).alias("bal")
        )
    )
    return bits.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("bal") > 0, F.pow(F.lit(2.0), F.col("b")).cast("bigint")).otherwise(0)
        )
        .cast("bigint")
        .alias("simhash16")
    )


# SimHash near-dup pairing: 4 bands x 4 bits. Pigeonhole: hamming(a, b) <= 3
# flipped bits cannot touch all 4 bands, so every true pair collides in at
# least one band — band equality is a LOSSLESS candidate filter for the
# <= 3 threshold. (At 100 TB the same arithmetic runs on a 64-bit simhash
# with 4 x 16-bit bands; 16 bits here keeps the md5-vote oracle cheap.)
SIMHASH_HAMMING_MAX = 3


@op(
    "simhash_near_dup",
    oracle=f"""
    WITH sig AS (
        SELECT doc_id, simhash16 FROM ({_SIMHASH_SQL})
    ), bands AS (
        SELECT doc_id, b AS band,
               CAST(floor(simhash16 / power(2, 4 * b)) AS BIGINT) % 16 AS band_val,
               simhash16
        FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash16 AS sig_a, b.simhash16 AS sig_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
                     AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= {SIMHASH_HAMMING_MAX}
    """,
    tags=("dedup", "simhash", "lsh"),
)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= 3, blocked on 4-bit
    bands (pigeonhole guarantees zero missed pairs at this threshold, so
    the band equi-join replaces the all-pairs XOR with no recall loss —
    unlike probabilistic MinHash banding). Verify stage is a single
    bit_count(xor) per candidate, all JVM-side."""
    sig = _simhash16(spark, sf_dir)
    # cache(): sig feeds both sides of the band self-join
    bands = sig.select(
        "doc_id",
        "simhash16",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
    ).withColumn(
        "band_val", F.expr("shiftright(simhash16, cast(4 * band AS int)) & 15")
    ).cache()
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash16").alias("sig_a"), "band", "band_val"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash16").alias("sig_b"), "band", "band_val"
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
        .filter(hamming <= SIMHASH_HAMMING_MAX)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
    )


@op(
    "dedup_cluster_canonical",
    oracle=f"""{_CC_WALK_CTES}
    SELECT node AS doc_id,
           min(label) AS cluster_id,
           CAST(CASE WHEN min(label) = node THEN 1 ELSE 0 END AS INTEGER) AS is_canonical
    FROM walk
    GROUP BY node
    """,
    tags=("dedup", "cluster", "graph"),
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: connected components over the MinHash+LSH pair
    graph, canonical doc = min doc_id per component — the step that turns
    pairwise near-dup hits into the keep/drop decision every training-data
    pipeline actually needs (pairs alone over-delete: a~b and b~c must
    collapse to ONE survivor even when a~c was never emitted).

    Spark side is iterative min-label propagation (Pregel-style): each
    round every node takes the min of its own label and its neighbors',
    with localCheckpoint() truncating the lineage per round; rounds =
    graph diameter, which for near-dup graphs is tiny (clusters are
    near-cliques — this corpus converges in 2-3 rounds). The
    driver-side loop is iteration control only; all per-round work is a
    distributed join + partial-agg min. At higher diameters the same loop
    upgrades to large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond") without changing the contract.
    Oracle-checkable despite being iterative: the RESULT (min id per
    component) is algorithm-independent, so DuckDB computes it with a
    recursive-CTE label closure.
    """
    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("node"))
    edges = _neardup_edges(spark, sf_dir).cache()
    labels = docs.select("node", F.col("node").alias("comp")).localCheckpoint()
    labels = _min_label_components(edges, labels, "connected components")
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        (F.col("comp") == F.col("node")).cast("int").alias("is_canonical"),
    )


# PageRank in exact integer arithmetic: ranks live in micro-units
# (1.0 == 1_000_000) and each edge contribution is floor(85*r / (100*deg))
# — floor division and integer sums are bit-identical on both engines, so
# a FIXED iteration count makes even PageRank hash-comparable with zero
# float drift (the same trick as ratio_round, applied per edge).
PAGERANK_ITERS = 5
_PR_BASE = 150_000  # (1 - 0.85) in micro-units

# The near-dup pair list (embedded once, MATERIALIZED so a CTE-inlining
# planner never recomputes the MinHash pipeline per reference) plus its
# both-direction edge list and degree table.
_GRAPH_CTES = f"""pairs AS MATERIALIZED (
        SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})
    ), edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ), deg AS MATERIALIZED (
        SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1
    )"""


def _pagerank_oracle() -> str:
    # Every CTE is referenced ONCE per later CTE and the heavy ones are
    # MATERIALIZED — a naive chain referencing r{i} twice per step makes
    # an inlining planner recompute the embedded MinHash query
    # exponentially many times.
    ctes = [
        f"""{_GRAPH_CTES}, nodes AS MATERIALIZED (
        SELECT doc_id AS node FROM documents
    ), r0 AS (
        SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes
    )"""
    ]
    for i in range(PAGERANK_ITERS):
        ctes.append(
            f"""c{i + 1} AS (
        SELECT e.dst AS node, sum((85 * p.r) // (100 * d.deg)) AS in_sum
        FROM edges e
        JOIN r{i} p ON p.node = e.src
        JOIN deg d ON d.node = e.src
        GROUP BY 1
    ), r{i + 1} AS (
        SELECT n.node, CAST({_PR_BASE} + coalesce(c.in_sum, 0) AS BIGINT) AS r
        FROM nodes n LEFT JOIN c{i + 1} c USING (node)
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node AS doc_id, r AS rank_micro FROM r{PAGERANK_ITERS}"
    )


@op(
    "pagerank_near_dup",
    oracle=_pagerank_oracle(),
    tags=("dedup", "graph", "pagerank"),
)
def pagerank_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup graph (damping 0.85, 5 fixed
    iterations) — ranks the most-connected documents inside duplicate
    neighborhoods, the centrality signal for picking cluster
    representatives by connectivity instead of min-id. Exactly
    hash-comparable across engines because all arithmetic is integer:
    micro-unit ranks, per-edge floor-division contributions, exact sums
    (doubles would drift with summation order). Per iteration: one join
    of the rank table onto the edge list + one partial-agg sum — the
    standard Pregel/GraphX layout; lineage is truncated per round with
    localCheckpoint like dedup_cluster_canonical."""
    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("node"))
    edges = _neardup_edges(spark, sf_dir).cache()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = docs.select("node", F.lit(1_000_000).cast("bigint").alias("r")).localCheckpoint()
    for _ in range(PAGERANK_ITERS):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select("dst", F.expr("(85 * r) DIV (100 * deg)").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            ranks.join(contrib, ranks.node == contrib.dst, "left")
            .select(
                "node",
                (F.lit(_PR_BASE) + F.coalesce("in_sum", F.lit(0))).cast("bigint").alias("r"),
            )
            .localCheckpoint()
        )
    return ranks.select(F.col("node").alias("doc_id"), F.col("r").alias("rank_micro"))


_TRIANGLE_SQL = f"""
    WITH edges AS MATERIALIZED (
        SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})
    ), deg AS (
        SELECT node, count(*) AS d FROM (
            SELECT doc_a AS node FROM edges
            UNION ALL
            SELECT doc_b AS node FROM edges
        ) GROUP BY node
    ), tri AS (
        SELECT count(*) AS n_triangles
        FROM edges e1
        JOIN edges e2 ON e2.doc_a = e1.doc_b
        JOIN edges e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
        FROM deg
    )
    SELECT agg.n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
           CAST(tri.n_triangles AS BIGINT) AS n_triangles,
           agg.n_wedges,
           CAST(3 * tri.n_triangles * 1000000 // agg.n_wedges AS BIGINT)
               AS transitivity_e6
    FROM agg, tri
"""


@op(
    "near_dup_triangle_stats",
    oracle=_TRIANGLE_SQL,
    tags=("dedup", "graph", "triangle"),
)
def near_dup_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup graph — the classic distributed
    graph motif join, here measuring how clique-like the duplicate
    clusters are (global transitivity = 3*triangles/wedges; ~1e6 means
    near-dup sets are true cliques, low values mean chained borderline
    pairs that cluster_canonical will over-merge). Edges are already
    id-oriented (a < b), so each triangle is enumerated exactly once by
    the two-hop join; wedges come from the degree table, not
    enumeration. Everything is exact integer arithmetic — no float in
    the compare. At 100 TB the standard skew hardening is degree-based
    orientation (point edges from the lower-degree endpoint) before the
    two-hop join; the id orientation here is the same plan shape."""
    edges = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b").cache()
    e1 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = edges.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    # inner join, not semi: (a,b,c) is already unique per triangle (edges
    # are id-oriented and distinct), so the count needs no dedupe
    tri = e1.join(e2, "b").join(e3, ["a", "c"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    deg = (
        edges.select(F.col("doc_a").alias("node"))
        .unionAll(edges.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    agg = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("bigint")).alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    from my_polars_ai_spark.operators.base import exact_floor_div

    return (
        agg.crossJoin(tri)
        .crossJoin(n_edges)
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            exact_floor_div(
                3 * F.col("n_triangles").cast("decimal(38,0)") * 1000000,
                F.col("n_wedges").cast("decimal(38,0)"),
            )
            .cast("long")
            .alias("transitivity_e6"),
        )
    )


@op(
    "dedup_cluster_size_hist",
    oracle=f"""{_CC_WALK_CTES}, labels AS (
        SELECT node, min(label) AS cluster_id FROM walk GROUP BY node
    ), sizes AS (
        SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY cluster_id
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
           CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_dropped
    FROM sizes
    GROUP BY cluster_size
    """,
    tags=("dedup", "cluster", "report"),
)
def dedup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact report: the cluster-size histogram every curation run
    publishes — how many near-dup clusters of each size exist, how many
    documents they hold, and how many get dropped when one canonical doc
    survives per cluster (sum of n_dropped / sum of n_docs is the dedup
    rate). Two bounded aggregations downstream of the connected
    components; all integer-exact."""
    labels = dedup_cluster_canonical(spark, sf_dir).select("cluster_id")
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).alias("n_docs"),
        ((F.col("cluster_size") - 1) * F.count(F.lit(1))).alias("n_dropped"),
    )


@op(
    "dedup_keep_longest",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, source,
               len(string_split(text, ' ')) AS n_tokens,
               md5(array_to_string(string_split(text, ' ')[1:10], ' ')) AS prefix_key
        FROM documents
    ), ranked AS (
        SELECT doc_id, source, n_tokens, prefix_key,
               row_number() OVER (PARTITION BY prefix_key
                                  ORDER BY n_tokens DESC, doc_id) AS rn,
               count(*) OVER (PARTITION BY prefix_key) AS n_versions
        FROM keyed
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_versions AS BIGINT) AS n_versions
    FROM ranked WHERE rn = 1
    """,
    tags=("dedup", "pipeline"),
)
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best dedup with a retention POLICY: documents sharing a
    10-token prefix block are near-duplicate versions; retain the
    LONGEST (ties to the lowest doc_id), recording how many versions it
    beat. This is the 'keep the most complete copy' rule real curation
    uses where `dedup_keyed_first`'s keep-first is arbitrary — and the
    blocking key means one keyed window on the prefix hash, never a
    pairwise comparison. Exact integer ordering makes the survivor set
    deterministic and oracle-checkable."""
    d = _t(spark, sf_dir, "documents")
    ts = F.split("text", " ")
    keyed = d.select(
        "doc_id",
        "source",
        F.size(ts).alias("n_tokens"),
        F.md5(F.concat_ws(" ", F.slice(ts, 1, 10))).alias("prefix_key"),
    )
    w = Window.partitionBy("prefix_key").orderBy(F.desc("n_tokens"), "doc_id")
    ranked = keyed.select(
        "doc_id", "source", "n_tokens",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("prefix_key")).alias("n_versions"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "doc_id", "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_versions").cast("long").alias("n_versions"),
        )
    )


@op(
    "source_overlap_matrix",
    oracle="""
    WITH hs AS (
        SELECT DISTINCT md5(array_to_string(string_split(text, ' ')[1:10], ' '))
                   AS h, source
        FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_texts
    FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
    GROUP BY 1, 2
    """,
    tags=("dedup", "report", "join"),
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how
    many near-duplicate documents (10-token-prefix fingerprint, the
    same blocking key as `dedup_keep_longest`) they share — the
    mirror-detection view that drives
    'drop source B, it is a copy of A' decisions (and the source-level
    aggregate of `benchmark_contamination`'s doc-level check). The join
    is on the content hash (each side already deduped to distinct
    (hash, source)), so candidate generation is bucketed by content —
    never a source-pair cross join; output is bounded by source-pair
    count."""
    d = _t(spark, sf_dir, "documents")
    hs = d.select(
        F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 10))).alias("h"),
        "source",
    ).distinct()
    a = hs.select("h", F.col("source").alias("source_a"))
    b = hs.select("h", F.col("source").alias("source_b"))
    return (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared_texts"))
    )


# Bipartite projection support threshold: pairs must co-supply this many parts.
COSUPPLY_MIN_PARTS = 3


@op(
    "co_supplier_pairs",
    oracle=f"""
    WITH sp AS (
        SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
    )
    SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
           CAST(count(*) AS BIGINT) AS n_shared_parts
    FROM sp a JOIN sp b
      ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
    GROUP BY 1, 2
    HAVING count(*) >= {COSUPPLY_MIN_PARTS}
    ORDER BY n_shared_parts DESC, supp_a, supp_b
    LIMIT 100
    """,
    tags=("graph", "join", "projection"),
)
def co_supplier_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite graph projection: suppliers connected by the parts they
    both supply (>= 3 shared parts) — the co-occurrence projection
    behind 'related vendors', co-purchase graphs, and author-paper
    collaboration networks. The scale property is WHERE the pair join
    happens: on the (supplier, part) edge list keyed by PART, so
    fan-out per join key is bounded by suppliers-per-part (small by
    nature), never suppliers x suppliers; the support threshold prunes,
    and the report is the top-100 pairs (TakeOrderedAndProject, total
    tiebreak) so output stays bounded even on corpora where the
    projection is dense. Same candidate-generation discipline as the
    LSH/banding dedup family."""
    li = _t(spark, sf_dir, "lineitem")
    sp = li.select("l_suppkey", "l_partkey").distinct()
    a = sp.select(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("supp_a"))
    b = sp.select(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("supp_b"))
    return (
        a.join(b, "pk")
        .filter(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count(F.lit(1)).alias("n_shared_parts"))
        .filter(F.col("n_shared_parts") >= COSUPPLY_MIN_PARTS)
        .orderBy(F.desc("n_shared_parts"), "supp_a", "supp_b")
        .limit(100)
    )


# Banding configurations whose recall curves the tuning table reports
# (bands x rows = 16 permutations, matching N_PERMS).
BANDING_CONFIGS = ((2, 8), (4, 4), (8, 2))


@op(
    "minhash_banding_curve",
    oracle=f"""{_SHINGLE_CTES}, true_pairs AS (
        SELECT round(ni * 1.0 / (sa.n + sb.n - ni), {ROUND_RATIO}) AS j
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE ni * 1.0 / (sa.n + sb.n - ni) >= {NGRAM_THRESHOLD}
    ), curves AS (
        SELECT b, r,
               CAST(round(1.0 - pow(1.0 - pow(j, r), b), {ROUND_RATIO})
                    * 1000000 AS HUGEINT) AS p_micro
        FROM true_pairs
        CROSS JOIN (VALUES (2, 8), (4, 4), (8, 2)) AS cfg(b, r)
    )
    SELECT b, r,
           CAST(count(*) AS BIGINT) AS n_true_pairs,
           {oracle_ratio_round('sum(p_micro)', 'count(*) * 1000000')}
               AS expected_recall
    FROM curves GROUP BY b, r
    """,
    tags=("dedup", "sketch", "report"),
)
def minhash_banding_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash banding TUNING TABLE: for each (bands, rows) split of the
    16 permutations, the expected LSH candidate recall over the
    corpus's OWN true near-dup pairs — E[1-(1-j^r)^b] with j the exact
    3-gram Jaccard of each qualifying pair (the same pair query as
    `dedup_ngram_jaccard`). This is the analysis that picked
    `dedup_minhash_lsh`'s 2x8 configuration (see the N_BANDS comment);
    shipping it as an operator means every new corpus re-derives the
    right banding from data instead of folklore. Float discipline:
    each pair's curve value rounds ONCE to micro-units, then the
    per-config mean is the exact integer rational. The true-pair join
    is the labeled brute baseline (shingle-keyed, never doc x doc)
    feeding a 3-row bounded report."""
    pairs = OPS["dedup_ngram_jaccard"].fn(spark, sf_dir)
    cfgs = spark.createDataFrame(list(BANDING_CONFIGS), "b int, r int")
    p_cand = F.round(
        1.0 - F.pow(1.0 - F.pow(F.col("jaccard"), F.col("r")), F.col("b")),
        ROUND_RATIO,
    )
    # hint kept: without it a CartesianProduct, shuffle 7.6 -> 29.9 MB; sf0.1, 10 pairs: hint won 10/10, 3.37 vs 4.58 s
    curves = pairs.crossJoin(F.broadcast(cfgs)).select(
        "b", "r", (p_cand * 1000000).cast("decimal(38,0)").alias("p_micro")
    )
    return curves.groupBy("b", "r").agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        ratio_round(F.sum("p_micro"), F.count(F.lit(1)) * 1000000).alias("expected_recall"),
    )


@op(
    "neardup_degree_hist",
    oracle=f"""
    WITH pairs AS (
        SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})
    ), ends AS (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL
        SELECT doc_b FROM pairs
    ), deg AS (
        SELECT doc_id, count(*) AS d FROM ends GROUP BY doc_id
    )
    SELECT CAST(d AS BIGINT) AS degree,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM deg GROUP BY d
    """,
    tags=("dedup", "graph", "histogram"),
)
def neardup_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup pair graph — the shape
    diagnostic read before clustering: a heavy tail says giant
    template-families (expect huge components and long label-
    propagation rounds), a flat low-degree curve says isolated
    duplicate pairs. Endpoint explode + two bounded aggregations over
    the already-bucketed MinHash pairs."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    ends = pairs.select(F.col("doc_a").alias("doc_id")).unionByName(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    deg = ends.groupBy("doc_id").agg(F.count(F.lit(1)).alias("d"))
    return deg.groupBy(F.col("d").cast("long").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


_PCT = int(MINHASH_THRESHOLD * 100)  # integer threshold: 100*j >= _PCT

_PREFIX_FILTER_SQL = f"""{_TOKS_CTE}, sizes AS (
        SELECT doc_id, count(*) AS n FROM toks GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           {oracle_ratio_round('ni', 'sa.n + sb.n - ni')} AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE 100 * ni >= {_PCT} * (sa.n + sb.n - ni)
"""


@op(
    "dedup_prefix_filter_jaccard",
    oracle=_PREFIX_FILTER_SQL,
    tags=("dedup", "similarity", "prefix-filter"),
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-recall set-similarity join via prefix filtering (the
    PPJoin/AllPairs family): token-Jaccard >= 0.95 pairs with NO
    probabilistic candidate loss, yet sub-quadratic candidate
    generation.

    Each doc's token set is ordered rare-first (ascending document
    frequency, token as tie-break — a total order that needs no global
    rank, so no single-partition window anywhere). A pair with
    J >= t must overlap in >= ceil(t*max(na,nb)) tokens, so the first
    ``n - ceil(t*n) + 1`` tokens of each doc (its *prefix*) must share
    at least one token with any qualifying partner: joining on prefix
    tokens alone is lossless. Because prefixes hold the RAREST tokens,
    the equi-join fan-in per token is small — the quadratic blow-up of
    the naive token join concentrates in frequent tokens, exactly the
    ones prefix filtering excludes.

    Complements dedup_minhash_lsh: LSH trades recall for speed
    (banding admits false negatives); prefix filtering is exact — at
    100 TB run LSH for monitoring-grade dedup and prefix-filter when
    recall is contractual. ceil is computed in exact integer arithmetic
    ((95*n + 99) // 100) so a float rounding error can never shrink a
    prefix below the lossless bound.

    Corpus contract: sub-quadratic ONLY under a heavy-tailed (Zipf)
    vocabulary, which every real text corpus has. The synthetic test
    corpus is the pathological worst case — 31 distinct tokens across
    all documents, so even the rarest prefix token collides with ~8%
    of the corpus and the candidate join degenerates to near-all-pairs
    (measured: 13.4M raw candidates, 25s at sf0.1 vs LSH's 3s).
    Deliberately excluded from bench.py for that reason; on a real
    vocabulary the prefix join's fan-in per token is bounded by the
    token's document frequency, which prefix selection minimizes.
    """
    toks = _doc_tokens(spark, sf_dir)
    # Document frequency per token: vocab-bounded, broadcast back onto
    # the (doc, token) pairs to order each doc's tokens rare-first.
    df_tab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = toks.join(df_tab, "tok")
    arrs = ranked.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("ts"),
        F.count(F.lit(1)).alias("n"),
    )
    # prefix_len = n - ceil(t*n) + 1, exact in integers: ceil(95n/100)
    # == (95n + 99) // 100 (n is small; double floor is exact < 2^53).
    prefix_len = (
        F.col("n") - F.floor((_PCT * F.col("n") + (100 - 1)) / 100) + 1
    ).cast("int")
    pref = (
        arrs.select(
            "doc_id",
            "n",
            F.explode(F.slice("ts", F.lit(1), prefix_len)).alias("pt"),
        )
        .select("doc_id", "n", F.col("pt.tok").alias("tok"))
    )
    a = pref.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "tok")
    b = pref.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "tok")
    # Lossless size-ratio filter in exact integers (J >= t forces
    # min/max >= t), then dedup candidate pairs before the verify join.
    cand = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(100 * F.least("na", "nb") >= _PCT * F.greatest("na", "nb"))
        .select("doc_a", "doc_b", "na", "nb")
        .distinct()
    )
    tok_arrays = toks.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("tok")).alias("toks")
    )
    arr_a = tok_arrays.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    arr_b = tok_arrays.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    paired = cand.join(arr_a, "doc_a").join(arr_b, "doc_b")
    ni = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.col("na") + F.col("nb") - ni
    return (
        paired.filter(100 * ni >= _PCT * union)
        .select("doc_a", "doc_b", ratio_round(ni, union).alias("jaccard"))
    )


@op(
    "dedup_cluster_pointer_doubling",
    # identical output contract to dedup_cluster_canonical (the result is
    # algorithm-independent), so the recursive-closure oracle is shared
    oracle=OPS["dedup_cluster_canonical"].oracle,
    tags=("dedup", "cluster", "graph"),
)
def dedup_cluster_pointer_doubling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components again — but via Shiloach-Vishkin-style
    hook + pointer-doubling, the O(log n)-round upgrade that
    dedup_cluster_canonical's docstring names for high-diameter graphs.
    Each round does (1) HOOK: parent(v) <- min(parent(v), min of
    neighbors' parents) — one edge join + partial-agg min — and
    (2) JUMP: parent(v) <- parent(parent(v)) — one self-join on the
    pointer table, which HALVES every pointer chain, so path-shaped
    components finish in log2(diameter) rounds where pure label
    propagation needs diameter rounds. Labels only decrease, so an
    unchanged 1-row sum is the fixpoint proof (same convergence
    aggregate as the propagation twin; the driver loop is iteration
    control only). pytest asserts both algorithms return identical
    clusters."""
    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("node"))
    edges = _neardup_edges(spark, sf_dir).cache()
    labels = docs.select("node", F.col("node").alias("p")).localCheckpoint()
    prev_sum = labels.agg(F.sum("p")).collect()[0][0]
    for _ in range(50):  # safety bound; log-round convergence breaks out
        # hook: pull the min parent across incident edges
        nbr = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst")
            .agg(F.min("p").alias("np"))
        )
        hooked = labels.join(nbr, labels.node == nbr.dst, "left").select(
            "node", F.least("p", F.coalesce("np", "p")).alias("p")
        )
        # jump: parent(parent(v)) — one equi-join against the pointer table
        parents = hooked.select(
            F.col("node").alias("pnode"), F.col("p").alias("pp")
        )
        labels = (
            hooked.join(parents, hooked.p == parents.pnode)
            .select("node", F.col("pp").alias("p"))
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("p")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError("pointer-doubling CC did not converge in 50 rounds")
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("p").alias("cluster_id"),
        (F.col("p") == F.col("node")).cast("int").alias("is_canonical"),
    )


BLAST_SEED_MAX = 10  # seeds: doc_id < 10 (stand-in for a flagged set)
BLAST_MAX_HOPS = 3

_BLAST_RADIUS_SQL = f"""
    WITH RECURSIVE pairs AS MATERIALIZED (
        SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})
    ), edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ), walk(node, d) AS (
        SELECT doc_id, 0 FROM documents WHERE doc_id < {BLAST_SEED_MAX}
        UNION
        SELECT e.dst, w.d + 1
        FROM walk w JOIN edges e ON e.src = w.node
        WHERE w.d < {BLAST_MAX_HOPS}
    )
    SELECT node AS doc_id, CAST(min(d) AS INT) AS hop_distance
    FROM walk GROUP BY node
"""


@op(
    "neardup_blast_radius",
    oracle=_BLAST_RADIUS_SQL,
    tags=("dedup", "graph", "bfs"),
)
def neardup_blast_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination blast radius: BFS hop distance from a flagged seed
    set through the near-dup graph, capped at 3 hops — the 'if these
    documents are benchmark-contaminated, what else is transitively
    suspect?' query. Spark side is bounded min-distance propagation
    (one edge join + min aggregate per hop, localCheckpoint per round
    — the same Pregel loop as the CC ops but with min(d+1) instead of
    min-label); the oracle is a recursive CTE whose UNION-dedup on
    (node, d) keeps the walk polynomial even on near-clique
    components. Frontier-only expansion (only rows that improved
    propagate) is the named optimization at larger diameters."""
    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("node"))
    edges = _neardup_edges(spark, sf_dir).cache()
    dist = docs.filter(F.col("node") < BLAST_SEED_MAX).select(
        "node", F.lit(0).alias("d")
    ).localCheckpoint()
    for _ in range(BLAST_MAX_HOPS):
        nbr = (
            edges.join(dist, edges.src == dist.node)
            .select(F.col("dst").alias("node"), (F.col("d") + 1).alias("d"))
        )
        dist = (
            dist.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint()
        )
    return dist.select(
        F.col("node").alias("doc_id"), F.col("d").cast("int").alias("hop_distance")
    )


_BEST_QUALITY_SQL = f"""{_CC_CLUSTERS_CTES}, ranked AS (
        SELECT c.cluster_id, c.doc_id, d.n_chars,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY d.n_chars DESC, c.doc_id) AS rn,
               count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
        FROM clusters c JOIN documents d USING (doc_id)
    )
    SELECT cluster_id, doc_id AS keep_doc_id,
           CAST(n_chars AS BIGINT) AS keep_n_chars,
           CAST(cluster_size AS BIGINT) AS cluster_size
    FROM ranked WHERE rn = 1
"""


@op(
    "dedup_cluster_best_quality",
    oracle=_BEST_QUALITY_SQL,
    tags=("dedup", "cluster", "policy"),
)
def dedup_cluster_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KEEP decision, done the way production pipelines actually do
    it: within each near-dup cluster retain the highest-quality member
    (longest document, doc_id as tie-break) rather than
    dedup_cluster_canonical's arbitrary min-id survivor. Composes the
    CC labels with a per-cluster argmax — one keyed window over the
    cluster assignment joined to the quality column; swap n_chars for
    any quality_score output without touching the shape."""
    clusters = dedup_cluster_canonical(spark, sf_dir).select("doc_id", "cluster_id")
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    joined = clusters.join(d, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    ranked = joined.select(
        "cluster_id",
        "doc_id",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).alias("cluster_size"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("keep_doc_id"),
        F.col("n_chars").cast("long").alias("keep_n_chars"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )


_CLUSTER_PURITY_SQL = f"""{_CC_CLUSTERS_CTES}, cl AS (
        SELECT c.cluster_id, d.lang, count(*) AS n
        FROM clusters c JOIN documents d USING (doc_id)
        GROUP BY 1, 2
    ), ranked AS (
        SELECT cluster_id, lang, n,
               sum(n) OVER (PARTITION BY cluster_id) AS n_docs,
               count(*) OVER (PARTITION BY cluster_id) AS n_langs,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY n DESC, lang) AS rn
        FROM cl
    )
    SELECT cluster_id,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_langs AS INT) AS n_langs,
           lang AS majority_lang,
           {oracle_ratio_round('n', 'n_docs')} AS purity,
           CAST(n_langs > 1 AS INT) AS crosses_languages
    FROM ranked WHERE rn = 1
"""


@op(
    "cluster_lang_purity",
    oracle=_CLUSTER_PURITY_SQL,
    tags=("dedup", "cluster", "quality"),
)
def cluster_lang_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language purity of each near-dup cluster: majority language,
    purity fraction, and a crosses-languages flag — near-identical
    documents in DIFFERENT languages are almost never real
    translations in a crawled corpus; they're templates/boilerplate,
    and this table is the triage list. Composes the CC labels with one
    (cluster, lang) aggregation and a cluster-keyed majority window;
    purity is the exact half-up rational."""
    clusters = dedup_cluster_canonical(spark, sf_dir).select("doc_id", "cluster_id")
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    cl = clusters.join(d, "doc_id").groupBy("cluster_id", "lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    wc = Window.partitionBy("cluster_id")
    wr = Window.partitionBy("cluster_id").orderBy(F.desc("n"), F.asc("lang"))
    ranked = cl.select(
        "cluster_id",
        "lang",
        "n",
        F.sum("n").over(wc).alias("n_docs"),
        F.count(F.lit(1)).over(wc).alias("n_langs"),
        F.row_number().over(wr).alias("rn"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_langs").cast("int").alias("n_langs"),
        F.col("lang").alias("majority_lang"),
        ratio_round(F.col("n"), F.col("n_docs")).alias("purity"),
        (F.col("n_langs") > 1).cast("int").alias("crosses_languages"),
    )


EXPLAIN_TOP_TOKENS = 3

_PAIR_EXPLAIN_SQL = f"""
    WITH pairs AS MATERIALIZED (
        SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})
    ), toks AS (
        SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ) WHERE tok <> ''
    ), df AS (
        SELECT tok, count(*) AS df FROM toks GROUP BY 1
    ), shared AS (
        SELECT p.doc_a, p.doc_b, ta.tok, df.df
        FROM pairs p
        JOIN toks ta ON ta.doc_id = p.doc_a
        JOIN toks tb ON tb.doc_id = p.doc_b AND tb.tok = ta.tok
        JOIN df ON df.tok = ta.tok
    ), ranked AS (
        SELECT doc_a, doc_b, tok, df,
               row_number() OVER (PARTITION BY doc_a, doc_b
                                  ORDER BY df, tok) AS rn
        FROM shared
    )
    SELECT doc_a, doc_b, CAST(rn AS INT) AS rank, tok,
           CAST(df AS BIGINT) AS doc_freq
    FROM ranked WHERE rn <= {EXPLAIN_TOP_TOKENS}
"""


@op(
    "neardup_pair_explain",
    oracle=_PAIR_EXPLAIN_SQL,
    tags=("dedup", "explain", "quality"),
)
def neardup_pair_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explainability for the near-dup detector: for every LSH pair,
    the 3 RAREST tokens the two documents share — rare shared tokens
    are the evidence a reviewer actually reads ('both contain
    axf93-zq'), where common shared tokens explain nothing. Shared
    tokens come from joining each pair against the token table on
    (doc, tok) — candidate-bounded, never corpus-quadratic — and the
    per-pair top-3 is a bounded window keyed on the pair."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    toks = _doc_tokens(spark, sf_dir)
    df_tab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ta = toks.select(F.col("doc_id").alias("doc_a"), "tok")
    tb = toks.select(F.col("doc_id").alias("doc_b"), "tok")
    shared = (
        pairs.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .join(df_tab, "tok")
    )
    w = Window.partitionBy("doc_a", "doc_b").orderBy(F.asc("df"), F.asc("tok"))
    return (
        shared.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= EXPLAIN_TOP_TOKENS)
        .select(
            "doc_a",
            "doc_b",
            F.col("rn").cast("int").alias("rank"),
            "tok",
            F.col("df").cast("long").alias("doc_freq"),
        )
    )


_LCC_SQL = f"""{_SYM_DEG_CTES}, wedges AS (
        SELECT x.a AS v, x.b AS nb1, y.b AS nb2
        FROM sym x JOIN sym y ON x.a = y.a AND x.b < y.b
    ), tri AS (
        SELECT w.v AS doc_id, CAST(count(*) AS HUGEINT) AS t
        FROM wedges w JOIN pairs p ON p.doc_a = w.nb1 AND p.doc_b = w.nb2
        GROUP BY 1
    )
    SELECT deg.doc_id, CAST(deg.d AS BIGINT) AS degree,
           CAST(coalesce(tri.t, 0) AS BIGINT) AS n_triangles,
           CASE WHEN deg.d >= 2 THEN
               CAST((2 * 1000000 * 2 * coalesce(tri.t, 0)
                     + deg.d * (deg.d - 1))
                    // (2 * deg.d * (deg.d - 1)) AS BIGINT)
           END AS lcc_micro
    FROM deg LEFT JOIN tri USING (doc_id)
"""


@op("local_clustering_coefficient", oracle=_LCC_SQL, tags=("dedup", "graph"))
def local_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-NODE clustering coefficient over the near-dup pair graph:
    lcc(v) = 2*t_v / (d_v*(d_v-1)) — how template-like each document's
    neighborhood is (near_dup_triangle_stats reports the GLOBAL census;
    this localizes it: a doc whose neighbors all pair with each other
    sits inside a mirror family, lcc ~ 1; a hub bridging unrelated
    clusters scores ~ 0). Wedges come from the id-oriented two-hop
    join over the candidate-bounded LSH pairs, closed against the
    canonical edge list — fan-in bounded by near-dup degree, never
    all-pairs; the coefficient is one half-up micro rational, NULL for
    degree<2 where it is undefined."""
    pairs, sym, deg = _sym_deg(spark, sf_dir)
    x = sym.select("a", F.col("b").alias("nb1"))
    y = sym.select(F.col("a"), F.col("b").alias("nb2"))
    wedges = x.join(y, "a").filter(F.col("nb1") < F.col("nb2"))
    tri = (
        wedges.join(
            pairs.select(F.col("doc_a").alias("nb1"), F.col("doc_b").alias("nb2")),
            ["nb1", "nb2"],
        )
        .groupBy(F.col("a").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("t"))
    )
    t0 = F.coalesce(F.col("t"), F.lit(0).cast("decimal(38,0)"))
    dd = F.col("d") * (F.col("d") - 1)
    return deg.join(tri, "doc_id", "left").select(
        "doc_id",
        F.col("d").cast("long").alias("degree"),
        t0.cast("long").alias("n_triangles"),
        F.when(
            F.col("d") >= 2,
            exact_floor_div(2 * 1_000_000 * 2 * t0 + dd, 2 * dd).cast("long"),
        ).alias("lcc_micro"),
    )


_ASSORT_SQL = f"""{_SYM_DEG_CTES}, ed AS (
        SELECT da.d AS x, db.d AS y
        FROM sym
        JOIN deg da ON da.doc_id = sym.a
        JOIN deg db ON db.doc_id = sym.b
    ), s AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
        FROM ed
    )
    SELECT CAST(n AS BIGINT) AS n_edge_ends,
           CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0 THEN
               round(CAST(n*sxy - sx*sy AS DOUBLE)
                     / sqrt(CAST(n*sxx - sx*sx AS DOUBLE)
                            * CAST(n*syy - sy*sy AS DOUBLE)), 6)
           END AS assortativity
    FROM s
"""


@op("degree_assortativity", oracle=_ASSORT_SQL, tags=("dedup", "graph", "stats"))
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the near-dup graph: the Pearson
    correlation of endpoint degrees over every (symmetrized) edge —
    positive means template families pair with template families
    (mirror farms), negative means hubs attach to leaves (one canonical
    doc quoted everywhere); with local_clustering_coefficient and the
    degree histogram this completes the graph-shape triage kit. Exact
    integer moment accumulators over candidate-bounded edges, one IEEE
    sqrt/divide at the end (the corr seam), NULL when either endpoint
    degree is constant."""
    _, sym, deg = _sym_deg(spark, sf_dir)
    ed = (
        sym.join(deg.select(F.col("doc_id").alias("a"), F.col("d").alias("x")), "a")
        .join(deg.select(F.col("doc_id").alias("b"), F.col("d").alias("y")), "b")
        .select("x", "y")
    )
    s = ed.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    vx = n * F.col("sxx") - sx * sx
    vy = n * F.col("syy") - sy * sy
    r = F.round(
        (n * F.col("sxy") - sx * sy).cast("double")
        / F.sqrt(vx.cast("double") * vy.cast("double")),
        6,
    )
    return s.select(
        n.cast("long").alias("n_edge_ends"),
        F.when((vx > 0) & (vy > 0), r).alias("assortativity"),
    )


_NORM_DEDUP_SQL = """
    WITH n AS (
        SELECT doc_id, source,
               md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS h
        FROM documents
    ), keep AS (
        SELECT doc_id, source, h,
               min(doc_id) OVER (PARTITION BY h) AS survivor
        FROM n
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN doc_id = survivor THEN 1 ELSE 0 END) AS BIGINT)
               AS n_survivors,
           CAST(count(DISTINCT h) AS BIGINT) AS n_normalized_texts
    FROM keep
"""


@op("dedup_normalized_text", oracle=_NORM_DEDUP_SQL, tags=("dedup", "text", "normalize"))
def dedup_normalized_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup AFTER canonical normalization — lowercase, trim,
    collapse whitespace runs, THEN hash — the standard curation step
    between raw exact dedup (dedup_exact_text, which 'Hello  world'
    and 'hello world' slip past) and near-dup similarity (which is
    overkill for pure case/whitespace variants). Normalization is a
    zero-shuffle narrow map of JVM string expressions; survivorship is
    the min-id-per-fingerprint window keyed on the HASH (content-
    bucketed, the dedup_exact_text discipline); the report is the
    bounded 1-row summary so the oracle hash-checks survivor selection
    itself (doc_id = survivor count) rather than re-emitting the
    corpus."""
    d = _t(spark, sf_dir, "documents")
    h = F.md5(F.lower(F.trim(F.regexp_replace(F.col("text"), " +", " "))))
    n = d.select("doc_id", h.alias("h"))
    w = Window.partitionBy("h")
    keep = n.withColumn("survivor", F.min("doc_id").over(w))
    return keep.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("doc_id") == F.col("survivor")).cast("int"))
        .cast("long")
        .alias("n_survivors"),
        F.countDistinct("h").cast("long").alias("n_normalized_texts"),
    )


_INCR_SPLIT = 5  # doc_id % 5 == 0 plays the incoming batch (~20%)

_INCREMENTAL_MH_SQL = f"""{_MINHASH_BANDS_CTES}, cand AS (
        SELECT a.doc_id AS doc_new, b.doc_id AS doc_old
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
        WHERE a.doc_id % {_INCR_SPLIT} = 0 AND b.doc_id % {_INCR_SPLIT} != 0
        GROUP BY 1, 2
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM toks GROUP BY 1
    ), pre AS (
        SELECT c.doc_new, c.doc_old, sa.n AS na, sb.n AS nb
        FROM cand c
        JOIN sizes sa ON sa.doc_id = c.doc_new
        JOIN sizes sb ON sb.doc_id = c.doc_old
        WHERE least(sa.n, sb.n) >= {MINHASH_THRESHOLD} * greatest(sa.n, sb.n)
    ), inter AS (
        SELECT p.doc_new, p.doc_old, p.na, p.nb, count(*) AS ni
        FROM pre p
        JOIN toks ta ON ta.doc_id = p.doc_new
        JOIN toks tb ON tb.doc_id = p.doc_old AND tb.tok = ta.tok
        GROUP BY 1, 2, 3, 4
    ), scored AS (
        SELECT doc_new, ni * 1.0 / (na + nb - ni) AS j
        FROM inter WHERE ni * 1.0 / (na + nb - ni) >= {MINHASH_THRESHOLD}
    )
    SELECT doc_new AS doc_id,
           CAST(count(*) AS BIGINT) AS n_dup_partners,
           round(max(j), {ROUND_RATIO}) AS best_jaccard
    FROM scored GROUP BY doc_new
"""


@op(
    "dedup_incremental_minhash",
    oracle=_INCREMENTAL_MH_SQL,
    tags=("dedup", "minhash", "lsh", "incremental", "pipeline"),
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup screening — the PRODUCTION dedup shape: an
    incoming batch (doc_id % 5 == 0 plays the new crawl snapshot) is
    checked against the already-ingested corpus, and only new-vs-old
    pairs are ever considered. A pipeline re-running `dedup_minhash_lsh`
    over old ∪ new pays the full corpus every snapshot; this op pays
    |new| + the band-bucket lookups.

    Plan: ONE signature pass over all docs (the wide-vocab broadcast
    minhash, same as dedup_minhash_lsh), band rows split into the two
    sides, and the candidate join keyed on (band, band_sig) with the
    incoming side as the SMALL probe — at 100 TB the existing side's
    band table is a pre-built artifact keyed by signature (here recomputed
    because parquet is the only persisted state), so each snapshot's cost
    is proportional to the batch, not the corpus. Size-ratio prefilter
    and exact-Jaccard verify run on candidates only; output is one row
    per contaminated incoming doc (partner count + best Jaccard) — the
    drop-list a curation pass consumes."""
    toks = _doc_tokens(spark, sf_dir)
    # `n` rides the signature aggregation and the band rows, exactly as
    # in minhash_lsh_pairs: the size-ratio prefilter falls out of the
    # candidate join itself, never a corpus-keyed sizes join.
    bands = _band_rows(_minhash_sig(toks, N_PERMS), N_PERMS, N_BANDS)
    newb = bands.filter(F.col("doc_id") % _INCR_SPLIT == 0).select(
        F.col("doc_id").alias("doc_new"), F.col("n").alias("na"), "band", "band_sig"
    )
    oldb = bands.filter(F.col("doc_id") % _INCR_SPLIT != 0).select(
        F.col("doc_id").alias("doc_old"), F.col("n").alias("nb"), "band", "band_sig"
    )
    pre = (
        newb.join(oldb, ["band", "band_sig"])
        .groupBy("doc_new", "doc_old")
        .agg(F.first("na").alias("na"), F.first("nb").alias("nb"))
        .filter(F.least("na", "nb") >= MINHASH_THRESHOLD * F.greatest("na", "nb"))
    )
    tok_arrays = toks.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("tok")).alias("toks")
    ).cache()
    arr_a = tok_arrays.select(F.col("doc_id").alias("doc_new"), F.col("toks").alias("toks_a"))
    arr_b = tok_arrays.select(F.col("doc_id").alias("doc_old"), F.col("toks").alias("toks_b"))
    paired = pre.join(arr_a, "doc_new").join(arr_b, "doc_old")
    ni = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = ni / (F.col("na") + F.col("nb") - ni)
    return (
        paired.filter(jac >= MINHASH_THRESHOLD)
        .groupBy(F.col("doc_new").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_dup_partners"),
            F.round(F.max(jac), ROUND_RATIO).alias("best_jaccard"),
        )
    )


def _split_case_sql(col: str) -> str:
    """Inline 80/10/10 split label for a doc-id SQL expression — the
    SAME content-addressed rule as train_val_test_split (md5 namespace
    'split:'), restated as a pure expression so no join is needed."""
    b = f"('0x' || substr(md5('split:' || CAST({col} AS VARCHAR)), 1, 15))::BIGINT % 100"
    return f"CASE WHEN {b} < 80 THEN 'train' WHEN {b} < 90 THEN 'val' ELSE 'test' END"


_SPLIT_LEAK_SQL = f"""
    WITH pairs AS MATERIALIZED (
        SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})
    ), lab AS (
        SELECT least({_split_case_sql('doc_a')}, {_split_case_sql('doc_b')}) AS split_lo,
               greatest({_split_case_sql('doc_a')}, {_split_case_sql('doc_b')}) AS split_hi
        FROM pairs
    )
    SELECT split_lo, split_hi,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(CASE WHEN split_lo != split_hi THEN 1 ELSE 0 END AS INT) AS is_leakage
    FROM lab GROUP BY 1, 2
"""


@op(
    "split_neardup_leakage",
    oracle=_SPLIT_LEAK_SQL,
    tags=("dedup", "split", "eval", "pipeline"),
)
def split_neardup_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate leakage ACROSS train/val/test boundaries — the
    eval-hygiene audit every release needs: a random doc-level split
    scatters near-dup clusters across splits, so val/test scores are
    quietly inflated by training twins (the reason modern pipelines
    split by cluster, not by doc). Sibling of `split_leakage_audit`
    (stats_tests), which catches EXACT-text leakage only. Reuses the oracle-checked MinHash
    pair set and the content-addressed 80/10/10 rule from
    train_val_test_split; because the split is a pure function of
    doc_id, both pair endpoints label inline — ZERO joins beyond the
    pair pipeline itself. Output: pair counts per unordered split
    combination with a leakage flag; the cross-split rows are the
    argument for cluster-aware splitting."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")

    def split_of(col):
        b = portable_hash60(F.concat(F.lit("split:"), col.cast("string"))) % 100
        return F.when(b < 80, "train").when(b < 90, "val").otherwise("test")

    sa, sb = split_of(F.col("doc_a")), split_of(F.col("doc_b"))
    lab = pairs.select(
        F.least(sa, sb).alias("split_lo"), F.greatest(sa, sb).alias("split_hi")
    )
    return lab.groupBy("split_lo", "split_hi").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (F.col("split_lo") != F.col("split_hi")).cast("int").alias("is_leakage"),
    )


# Calibration audit sampling: 1-in-CAL_SAMPLE_MOD of the RAW banded
# candidate pairs (pre size-filter, pre threshold) by pair hash — the
# production pattern for auditing an LSH deployment without paying the
# full verify fan-in. Estimated Jaccard resolution is 1/N_PERMS, so
# est_micro steps are exactly MICRO/N_PERMS.
CAL_SAMPLE_MOD = 16
_CAL_MICRO = 1_000_000

_CALIBRATION_SQL = f"""{_MINHASH_BANDS_CTES}, cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                     AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), sampled AS (
        SELECT doc_a, doc_b FROM cand
        WHERE ('0x' || substr(md5('cal:' || CAST(doc_a AS VARCHAR) || ':'
                  || CAST(doc_b AS VARCHAR)), 1, 15))::BIGINT
              % {CAL_SAMPLE_MOD} = 0
    ), matches AS (
        SELECT s.doc_a, s.doc_b,
               CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_match
        FROM sampled s
        JOIN sig sa ON sa.doc_id = s.doc_a
        JOIN sig sb ON sb.doc_id = s.doc_b AND sb.i = sa.i
        GROUP BY 1, 2
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM toks GROUP BY 1
    ), exact AS (
        SELECT m.doc_a, m.doc_b, m.n_match,
               (2 * {_CAL_MICRO} * CAST(count(*) AS HUGEINT)
                + (za.n + zb.n - count(*)))
               // (2 * CAST(za.n + zb.n - count(*) AS HUGEINT)) AS j_micro
        FROM matches m
        JOIN sizes za ON za.doc_id = m.doc_a
        JOIN sizes zb ON zb.doc_id = m.doc_b
        JOIN toks ta ON ta.doc_id = m.doc_a
        JOIN toks tb ON tb.doc_id = m.doc_b AND tb.tok = ta.tok
        GROUP BY m.doc_a, m.doc_b, m.n_match, za.n, zb.n
    )
    SELECT CAST(n_match AS INT) AS n_matching_perms,
           {oracle_ratio_round("n_match", str(N_PERMS))} AS est_jaccard,
           CAST(count(*) AS BIGINT) AS n_pairs,
           {oracle_ratio_round("sum(j_micro)", f"count(*) * {_CAL_MICRO}")}
               AS avg_exact_jaccard,
           {oracle_signed_ratio_round(
               f"sum(n_match * ({_CAL_MICRO} // {N_PERMS}) - j_micro)",
               f"count(*) * {_CAL_MICRO}")} AS avg_err
    FROM exact
    GROUP BY n_match
"""


@op(
    "minhash_jaccard_calibration",
    oracle=_CALIBRATION_SQL,
    tags=("dedup", "minhash", "eval", "pipeline"),
)
def minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical MinHash calibration audit: on a deterministic 1/16
    hash-sample of the RAW banded candidate pairs (no size prefilter,
    no threshold — the estimator must be audited where it is USED),
    compare the signature-agreement estimate (#matching perms / 16)
    against exact Jaccard, grouped by match count: pair volume, mean
    exact similarity, and the estimator's mean signed error per
    estimate level. The empirical companion to the analytic
    `minhash_banding_curve` — run it after retuning perms/bands to see
    whether the deployed estimator is biased on YOUR corpus.

    Scale shape: the candidate set is band-bounded (never all-pairs)
    and the verify fan-in is cut {CAL_SAMPLE_MOD}x by the pair-hash
    sample BEFORE token arrays are touched; signatures ride the same
    one-shuffle wide-vocab broadcast trick as `dedup_minhash_lsh`, and
    exact Jaccard joins compact per-doc token arrays, not exploded
    (pair, token) rows. Jaccard rounds ONCE per pair to integer
    micro-units; every aggregate after is exact integer arithmetic."""
    toks = _doc_tokens(spark, sf_dir)
    sig = _minhash_sig(
        toks, N_PERMS, F.array_sort(F.collect_set("tok")).alias("toks")
    ).cache()
    bands = sig.select(
        "doc_id", F.explode(F.array(*_band_structs(N_PERMS, N_BANDS))).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig"))
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "band_sig"])
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )
    sampled = cand.filter(
        portable_hash60(
            F.concat(
                F.lit("cal:"),
                F.col("doc_a").cast("string"),
                F.lit(":"),
                F.col("doc_b").cast("string"),
            )
        )
        % CAL_SAMPLE_MOD
        == 0
    )
    sig_a = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("na"),
        F.col("toks").alias("toks_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_PERMS)],
    )
    sig_b = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("nb"),
        F.col("toks").alias("toks_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_PERMS)],
    )
    paired = sampled.join(sig_a, "doc_a").join(sig_b, "doc_b")
    n_match = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(N_PERMS)
    ).cast("bigint")
    ni = F.size(F.array_intersect("toks_a", "toks_b")).cast("bigint")
    union = (F.col("na") + F.col("nb") - ni).cast("bigint")
    j_micro = exact_floor_div(
        2 * _CAL_MICRO * ni.cast("decimal(38,0)") + union.cast("decimal(38,0)"),
        2 * union.cast("decimal(38,0)"),
    ).cast("bigint")
    per_pair = paired.select(
        n_match.alias("n_match"), j_micro.alias("j_micro")
    )
    est_micro_step = _CAL_MICRO // N_PERMS
    return per_pair.groupBy("n_match").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("j_micro").alias("_sj"),
        F.sum(F.col("n_match") * est_micro_step - F.col("j_micro")).alias("_se"),
    ).select(
        F.col("n_match").cast("int").alias("n_matching_perms"),
        ratio_round(F.col("n_match"), F.lit(N_PERMS)).alias("est_jaccard"),
        F.col("_n").cast("bigint").alias("n_pairs"),
        ratio_round(F.col("_sj"), F.col("_n") * _CAL_MICRO).alias("avg_exact_jaccard"),
        signed_ratio_round(F.col("_se"), F.col("_n") * _CAL_MICRO).alias("avg_err"),
    )


# ---------------------------------------------------------------------------
# Contrastive triplet mining: the training-data artifact an embedding
# model needs, mined straight from the LSH candidate structure. Verified
# near-dups are the positives; candidates that COLLIDED in a band and
# survived the size prefilter but FAILED exact-Jaccard verification are
# exactly the hard negatives contrastive training wants — close in hash
# space, provably not duplicates. One positive + up to TRIPLET_NEG_K
# hardest negatives per anchor.

TRIPLET_NEG_K = 3

@session_memo
def _triplet_sym(spark: SparkSession, sf_dir: str):
    """The symmetrized verified-candidate table (anchor, partner,
    jaccard, is_dup) — the triplet family's shared mining artifact,
    cached (it feeds the positive AND negative ranking branches) and
    session-memoized: a fresh call would re-run the exact-Jaccard
    verify over every size-prefiltered candidate and re-fill a
    brand-new cache entry per consumer action (the miner and its
    export manifest both consume it)."""
    cands = minhash_lsh_pairs(spark, sf_dir, with_verdict=True)
    sym = (
        cands.select(
            F.col("doc_a").alias("anchor_id"),
            F.col("doc_b").alias("partner"),
            "jaccard",
            "is_dup",
        )
        .unionByName(
            cands.select(
                F.col("doc_b").alias("anchor_id"),
                F.col("doc_a").alias("partner"),
                "jaccard",
                "is_dup",
            )
        )
        # Cache in the consumers' window layout: InMemoryTableScan
        # propagates the cached plan's partitioning and ordering, so
        # the pos/neg ranking windows (partition anchor_id, order
        # jaccard desc / partner) elide BOTH their exchange and their
        # local sort on every action; the sort is paid once at fill.
        # Measured at sf0.1 on 4 cores (two runs each, noop write of
        # contrastive_triplet_mining): steady 0.66 / 0.88 s vs 1.23 /
        # 1.24 s with a plain cache; the fill (20.5-25.2 s, the LSH
        # build) shows no difference above its noise.
        # test_r17_optimizations pins the elision.
        .repartition("anchor_id")
        .sortWithinPartitions("anchor_id", F.col("jaccard").desc(), "partner")
        .cache()
    )
    return sym, (sym,)


_TRIPLET_SQL = f"""
    {_MINHASH_CAND_CTES}, scored AS (
        SELECT doc_a, doc_b,
               round(ni * 1.0 / (na + nb - ni), {ROUND_RATIO}) AS jaccard,
               CASE WHEN ni * 1.0 / (na + nb - ni) >= {MINHASH_THRESHOLD}
                    THEN 1 ELSE 0 END AS is_dup
        FROM inter
    ), sym AS (
        SELECT doc_a AS anchor_id, doc_b AS partner, jaccard, is_dup FROM scored
        UNION ALL
        SELECT doc_b, doc_a, jaccard, is_dup FROM scored
    ), pos AS (
        SELECT anchor_id, partner AS pos_id, jaccard AS pos_jaccard,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY jaccard DESC, partner) AS rn
        FROM sym WHERE is_dup = 1
    ), neg AS (
        SELECT anchor_id, partner AS neg_id, jaccard AS neg_jaccard,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY jaccard DESC, partner) AS neg_rank
        FROM sym WHERE is_dup = 0
    )
    SELECT p.anchor_id, p.pos_id, p.pos_jaccard,
           n.neg_id, n.neg_jaccard, CAST(n.neg_rank AS INTEGER) AS neg_rank
    FROM pos p JOIN neg n USING (anchor_id)
    WHERE p.rn = 1 AND n.neg_rank <= {TRIPLET_NEG_K}
"""


@op(
    "contrastive_triplet_mining",
    oracle=_TRIPLET_SQL,
    tags=("dedup", "minhash", "lsh", "similarity", "pipeline", "curation"),
)
def contrastive_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mine (anchor, positive, hard-negative) triplets for contrastive
    embedding training from the LSH candidate structure itself:
    verified near-dup pairs are positives, and candidates that collided
    in a band + passed the size prefilter but FAILED exact-Jaccard
    verification are the hard negatives (hash-space-close non-dups —
    the pairs a random negative sampler almost never finds). Each
    anchor keeps its best positive (highest Jaccard, id tiebreak) and
    its TRIPLET_NEG_K hardest negatives, ranked on the once-rounded
    Jaccard so both engines order identically.

    Scale shape: reuses minhash_lsh_pairs' banded candidate generation
    verbatim (never all-pairs; the negatives are a byproduct of the
    verify stage, costing ZERO extra joins over running dedup itself);
    the ranking windows are per-anchor over candidate-bounded rows."""
    sym = _triplet_sym(spark, sf_dir)
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("jaccard").desc(), F.col("partner")
    )
    pos = (
        sym.filter(F.col("is_dup") == 1)
        .select(
            "anchor_id",
            F.col("partner").alias("pos_id"),
            F.col("jaccard").alias("pos_jaccard"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    neg = sym.filter(F.col("is_dup") == 0).select(
        "anchor_id",
        F.col("partner").alias("neg_id"),
        F.col("jaccard").alias("neg_jaccard"),
        F.row_number().over(w).alias("neg_rank"),
    ).filter(F.col("neg_rank") <= TRIPLET_NEG_K)
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "pos_id",
        "pos_jaccard",
        "neg_id",
        "neg_jaccard",
        F.col("neg_rank").cast("int").alias("neg_rank"),
    )


_TRIPLET_MANIFEST_SQL = f"""
    WITH trip AS (
        SELECT * FROM ({_TRIPLET_SQL})
    ), packed AS (
        SELECT anchor_id, pos_id, pos_jaccard,
               CAST(count(*) AS INTEGER) AS n_negs,
               string_agg(neg_id::VARCHAR, ',' ORDER BY neg_rank) AS neg_ids,
               max(neg_jaccard) AS max_neg_jaccard
        FROM trip
        GROUP BY 1, 2, 3
    )
    SELECT anchor_id, pos_id, pos_jaccard, n_negs, neg_ids,
           round(pos_jaccard - max_neg_jaccard, {ROUND_RATIO}) AS margin,
           CAST(('0x' || substr(md5('trip:' || anchor_id::VARCHAR), 1, 15))::BIGINT
                % {RDZV_SHARDS} AS INTEGER) AS shard,
           md5(anchor_id::VARCHAR || '|' || pos_id::VARCHAR || '|' || neg_ids)
               AS record_md5
    FROM packed
"""


@op(
    "triplet_export_manifest",
    oracle=_TRIPLET_MANIFEST_SQL,
    tags=("dedup", "similarity", "pipeline", "curation", "manifest"),
)
def triplet_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The export ACTION for `contrastive_triplet_mining` — the packed
    one-row-per-anchor training record a contrastive-training loader
    actually reads (the same detect -> audit -> ship ladder
    `decontaminated_manifest` closes for decontamination): the anchor,
    its positive, the rank-ordered hard-negative id list, the
    contrastive margin (pos Jaccard minus the hardest negative's —
    the per-record difficulty a curriculum sampler keys on), a
    deterministic export shard so a 1000-executor writer knows which
    output file owns the record, and an md5 record checksum the
    loader can verify after transport.

    Scale shape: one group-by over the triplet table (per-anchor rows
    bounded by TRIPLET_NEG_K, so collect_list is bounded); the shard
    and checksum are narrow per-row expressions. Nothing new shuffles
    beyond the miner's own cost."""
    trips = contrastive_triplet_mining(spark, sf_dir)
    packed = trips.groupBy("anchor_id", "pos_id", "pos_jaccard").agg(
        F.count(F.lit(1)).cast("int").alias("n_negs"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("neg_rank", "neg_id"))),
                lambda s: s.getField("neg_id").cast("string"),
            ),
            ",",
        ).alias("neg_ids"),
        F.max("neg_jaccard").alias("max_neg_jaccard"),
    )
    return packed.select(
        "anchor_id",
        "pos_id",
        "pos_jaccard",
        "n_negs",
        "neg_ids",
        F.round(F.col("pos_jaccard") - F.col("max_neg_jaccard"), ROUND_RATIO).alias(
            "margin"
        ),
        (
            portable_hash60(F.concat(F.lit("trip:"), F.col("anchor_id").cast("string")))
            % RDZV_SHARDS
        )
        .cast("int")
        .alias("shard"),
        F.md5(
            F.concat_ws(
                "|",
                F.col("anchor_id").cast("string"),
                F.col("pos_id").cast("string"),
                F.col("neg_ids"),
            )
        ).alias("record_md5"),
    )


# ---------------------------------------------------------------------------
# Cross-shard duplicate rate: CAN corpus dedup run shard-locally? Under
# content-blind (rendezvous-by-doc-id) sharding the answer is provably
# no — a near-dup pair lands in the same shard with probability ~1/S —
# and this op measures it on the actual verified pair set, which is the
# number a 100 TB pipeline needs before deciding between global dedup
# and content-keyed placement.

_XSHARD_SQL = f"""
    WITH pairs AS (
        SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})
    ), sh AS (
        SELECT doc_id,
               list_indexof(hv, list_max(hv)) - 1 AS shard
        FROM (
            SELECT doc_id,
                   list_transform(range(0, {RDZV_SHARDS}), s ->
                       ('0x' || substr(md5(doc_id::VARCHAR || ':' || s::VARCHAR), 1, 15))::BIGINT
                   ) AS hv
            FROM documents
        )
    ), j AS (
        SELECT CASE WHEN sa.shard = sb.shard THEN 1 ELSE 0 END AS same
        FROM pairs p
        JOIN sh sa ON sa.doc_id = p.doc_a
        JOIN sh sb ON sb.doc_id = p.doc_b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(same) AS BIGINT) AS n_same_shard,
           {oracle_ratio_round("sum(same)", "count(*)")} AS same_shard_frac,
           {oracle_ratio_round("1", str(RDZV_SHARDS))} AS expected_same_frac
    FROM j
"""


@op(
    "cross_shard_dup_rate",
    oracle=_XSHARD_SQL,
    tags=("dedup", "sharding", "layout", "scale", "report"),
)
def cross_shard_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What fraction of verified near-dup pairs land in the SAME
    rendezvous shard — the one-row feasibility answer for shard-local
    dedup. Content-blind placement (`rendezvous_shard_plan`'s
    doc-id-keyed highest-random-weight assignment, S=8) gives a pair
    the same shard with probability ~1/S, so shard-local dedup would
    miss ~(S-1)/S of all duplicates; the measured rate sits next to
    the analytic 1/S so the report carries its own null hypothesis.
    Content-keyed placement (minhash band as the shard key) is what
    makes the rate ~1 — that IS `dedup_minhash_lsh`'s band shuffle.

    Scale shape: reuses the banded pair pipeline verbatim, adds one
    per-doc bounded-array shard assignment (zero shuffle) and two
    doc-keyed joins from the pair set, then a 1-row aggregate."""
    pairs = minhash_lsh_pairs(spark, sf_dir)
    hv = F.transform(
        F.sequence(F.lit(0), F.lit(RDZV_SHARDS - 1)),
        lambda s: portable_hash60(
            F.concat(F.col("doc_id").cast("string"), F.lit(":"), s.cast("string"))
        ),
    )
    sh = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.array_position(hv, F.array_max(hv)) - 1).alias("shard")
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shard").alias("shard_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shard").alias("shard_b"))
    same = (F.col("shard_a") == F.col("shard_b")).cast("long")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(same).cast("long").alias("n_same_shard"),
            ratio_round(F.sum(same), F.count(F.lit(1))).alias("same_shard_frac"),
            ratio_round(F.lit(1), F.lit(RDZV_SHARDS)).alias("expected_same_frac"),
        )
    )
