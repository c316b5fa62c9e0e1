"""Output contract of bench.py, checked on its source without running it."""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_isolated_remeasure_set_is_in_headline():
    # the pinned always-isolated queries must stay headline members,
    # else HEADLINE.index in bench.py raises at runtime
    sys.path.insert(0, ROOT)
    import bench

    src = open(bench.__file__).read()
    for name in ("dedup_minhash_lsh", "pq_adc_topk",
                 "repeated_span_excision", "repeated_span_stats",
                 "ann_index_manifest"):
        assert name in bench.HEADLINE
        assert f'"{name}",' in src


def test_bench_prints_summary_line_last():
    # the tail-truncation defense is an ordering contract on bench.py's
    # source: the detail json.dumps must precede the summary print. The
    # summary embeds a per-query map rounded to 2 decimals with a
    # 1950-char degrade guard, so the whole line always fits a
    # 2000-char tail window.
    src = open(os.path.join(ROOT, "bench.py")).read()
    assert src.index('"queries": timings') < src.index('"n_queries"')
    assert "BENCH_LAST.json" in src
    # the degrade guard exists and bounds the summary line
    assert "1950" in src
    assert 'summary.pop("queries", None)' in src
    # cold-path visibility: the first shared-loop sample is recorded
    assert '"cold_first_iter": cold_first_iter' in src
