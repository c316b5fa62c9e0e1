"""Invariant tests for the near-dup graph-analytics wave — properties
the DuckDB value-hash can't express: Adamic-Adar candidates are true
non-edges with real common neighbors, BFS hop levels satisfy the
frontier recurrence, and the label-propagation vote is a plurality."""

from __future__ import annotations

from collections import defaultdict

from my_polars_ai_spark.operators.dedup import _neardup_edges
from my_polars_ai_spark.operators.graph import (
    BLAST_HOPS,
    contamination_blast_radius,
    neardup_adamic_adar,
    neardup_label_consistency,
)
from my_polars_ai_spark.operators.text import benchmark_contamination


def _adj(spark, sf_dir):
    adj = defaultdict(set)
    for r in _neardup_edges(spark, sf_dir).collect():
        adj[r.src].add(r.dst)
    return adj


def test_adamic_adar_candidates_are_nonedges_with_common_neighbors(spark, sf_dir):
    adj = _adj(spark, sf_dir)
    rows = neardup_adamic_adar(spark, sf_dir).collect()
    assert rows, "corpus has near-dup clusters, closure must find candidates"
    for r in rows:
        # never an existing edge (the left-anti join has teeth)
        assert r.doc_b not in adj[r.doc_a]
        # n_common matches the recomputed middle-vertex count
        assert r.n_common == len(adj[r.doc_a] & adj[r.doc_b])
        assert r.n_common >= 1 and r.aa_micro > 0


def test_blast_radius_levels_satisfy_bfs_recurrence(spark, sf_dir):
    adj = _adj(spark, sf_dir)
    seeds = {r.doc_id for r in benchmark_contamination(spark, sf_dir).collect()}
    hops = {r.doc_id: r.hops for r in contamination_blast_radius(spark, sf_dir).collect()}
    assert {d for d, h in hops.items() if h == 0} == seeds
    for d, h in hops.items():
        assert 0 <= h <= BLAST_HOPS
        if h > 0:
            # a node at level h must have a neighbor at level h-1
            assert any(hops.get(n) == h - 1 for n in adj[d])
    # completeness at depth 1: every neighbor of a seed is reached
    for s in seeds:
        for n in adj[s]:
            assert n in hops and hops[n] <= 1


def test_label_vote_is_plurality_with_deterministic_tiebreak(spark, sf_dir):
    adj = _adj(spark, sf_dir)
    langs = {
        r.doc_id: r.lang
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang")
        .collect()
    }
    rows = neardup_label_consistency(spark, sf_dir).collect()
    assert {r.doc_id for r in rows} == {d for d in adj if adj[d]}
    for r in rows:
        votes = defaultdict(int)
        for n in adj[r.doc_id]:
            votes[langs[n]] += 1
        assert r.n_neighbors == sum(votes.values())
        assert r.n_agree == votes.get(r.lang, 0)
        best = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert r.voted_lang == best


def test_isotonic_fit_is_monotone_and_matches_greedy_pav(spark, sf_dir):
    """The minimax closed form must agree with the classic sequential
    pool-adjacent-violators algorithm (run here in exact Fractions) up
    to the op's documented once-rounding of interval means."""
    from fractions import Fraction

    from my_polars_ai_spark.operators.text import isotonic_calibration_pav

    rows = sorted(
        isotonic_calibration_pav(spark, sf_dir).collect(), key=lambda r: r.bin
    )
    assert rows
    # monotone non-decreasing
    for a, b in zip(rows, rows[1:]):
        assert a.iso_frac_en <= b.iso_frac_en
    # greedy PAV in exact rationals
    blocks = [[Fraction(r.n_en), Fraction(r.n_docs)] for r in rows]
    i = 0
    while i + 1 < len(blocks):
        if blocks[i][0] * blocks[i + 1][1] > blocks[i + 1][0] * blocks[i][1]:
            blocks[i][0] += blocks[i + 1][0]
            blocks[i][1] += blocks[i + 1][1]
            del blocks[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    expanded = []
    bi = 0
    for num, den in blocks:
        # how many original bins this block absorbed: walk den
        acc = Fraction(0)
        while acc < den:
            acc += rows[bi].n_docs
            expanded.append(num / den)
            bi += 1
    assert bi == len(rows)
    for r, ref in zip(rows, expanded):
        assert abs(r.iso_frac_en - float(ref)) <= 2e-6
