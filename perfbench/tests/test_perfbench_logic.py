"""Spark-free tests of the benchmark's own logic.

    python3 -m pytest perfbench/tests -q
"""

import hashlib
import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import procs  # noqa: E402
import summary  # noqa: E402
from spans import Span, Tracer  # noqa: E402


# ------------------------------------------------------------ summary

def test_percentile_interpolates_and_bounds():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert summary.percentile(xs, 0) == 1.0
    assert summary.percentile(xs, 100) == 5.0
    assert summary.median(xs) == 3.0
    assert summary.percentile([1.0, 2.0], 50) == 1.5
    assert summary.percentile(xs, 90) == pytest.approx(
        float(np.percentile(xs, 90)))
    with pytest.raises(ValueError):
        summary.percentile([], 50)
    with pytest.raises(ValueError):
        summary.percentile(xs, 101)


@pytest.mark.parametrize("n, want", [(5, None), (39, None), (40, 75.0),
                                     (99, 75.0), (100, 90.0), (200, 95.0),
                                     (1000, 99.0), (10000, 99.9)])
def test_highest_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert summary.highest_tail_percentile(n) == want
    if want is not None:
        assert round(n * (100 - want) / 100, 6) >= summary.TAIL_SAMPLES


def test_timing_summary_reports_count_and_supported_tail():
    few = summary.timing_summary("match", [1.0, 2.0, 3.0])
    assert few == {"match_n": 3, "match_p50_ms": 2000.0}
    many = summary.timing_summary("match", [i / 1000 for i in range(1, 101)])
    assert many["match_n"] == 100
    assert set(many) == {"match_n", "match_p50_ms", "match_p90_ms"}
    assert summary.timing_summary("x", []) == {"x_n": 0}


def test_ratio_refuses_non_positive_base():
    assert summary.ratio(3, 4) == 0.75
    with pytest.raises(ValueError):
        summary.ratio(1, 0)


def test_geomean_weighs_each_value_by_its_share():
    assert summary.geomean([2.0, 8.0]) == pytest.approx(4.0)
    # doubling any one of three values moves the mean by 2 ** (1/3)
    base = summary.geomean([0.5, 1.0, 3.0])
    for i in range(3):
        xs = [0.5, 1.0, 3.0]
        xs[i] *= 2
        assert summary.geomean(xs) / base == pytest.approx(2 ** (1 / 3))
    with pytest.raises(ValueError):
        summary.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        summary.geomean([])


# ------------------------------------------------------------ generator

def _digest(df) -> str:
    h = hashlib.sha256()
    for col in df.columns:
        for v in df[col]:
            h.update(v if isinstance(v, bytes) else str(v).encode())
    return h.hexdigest()


def test_same_seed_same_bytes_other_seed_other_bytes():
    a = gen.base_pages(7, 60, 20, 80)
    b = gen.base_pages(7, 60, 20, 80)
    c = gen.base_pages(8, 60, 20, 80)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    assert "warc_ts" not in a.columns
    assert list(a["url"]) == sorted(a["url"])
    assert _digest(gen.append_pages(7, 3, 20, 20, 80)) == \
        _digest(gen.append_pages(7, 3, 20, 20, 80))
    assert np.array_equal(gen.embeddings(7, 10), gen.embeddings(7, 10))
    assert gen.zipf_queries(7, 50) == gen.zipf_queries(7, 50)
    assert gen.phrase_queries(7, a, 20) == gen.phrase_queries(7, a, 20)


def test_base_and_append_urls_are_disjoint():
    # make_pages_pdf reuses its urls for every seed; the appended batches
    # must not, even when drawn from the same seed as the base
    base = set(gen.base_pages(7, 60, 20, 80)["url"])
    b0 = set(gen.append_pages(7, 0, 60, 20, 80)["url"])
    b1 = set(gen.append_pages(7, 1, 60, 20, 80)["url"])
    assert len(b0) == len(b1) == 60
    assert not base & b0 and not base & b1 and not b0 & b1


def test_append_html_wraps_its_own_text():
    pages = gen.append_pages(7, 0, 30, 20, 80)
    for u, h, t in zip(pages["url"], pages["html"], pages["text"]):
        assert h == gen.synth.wrap_html(t, u)


def test_queries_come_from_vocab_and_phrases_occur():
    vocab = set(gen.synth._vocab())
    for q in gen.zipf_queries(3, 200):
        terms = q.split()
        assert 1 <= len(terms) <= 3 and set(terms) <= vocab
    pages = gen.base_pages(3, 80, 20, 80)
    streams = [" " + " ".join(w.strip(".") for w in t.split()) + " "
               for t in pages["text"]]
    for p in gen.phrase_queries(3, pages, 30):
        assert 2 <= len(p.split()) <= 3
        assert any(f" {p} " in s for s in streams), p


def test_zipf_head_terms_dominate():
    terms = [t for q in gen.zipf_queries(11, 2000) for t in q.split()]
    head = set(gen.synth._vocab()[:50])
    share = sum(t in head for t in terms) / len(terms)
    # p(rank <= 50) = H(50) / H(5000) ≈ 0.50 for p ∝ 1/rank
    assert 0.4 < share < 0.6


# ------------------------------------------------------------ checks

def test_ranked_mismatch():
    want = [(3, 2.0), (1, 1.5)]
    assert checks.ranked_mismatch([(3, 2.0 + 5e-7), (1, 1.5)], want) is None
    assert checks.ranked_mismatch([(1, 1.5), (3, 2.0)], want)
    assert checks.ranked_mismatch([(3, 2.0 + 2e-6), (1, 1.5)], want)
    assert checks.ranked_mismatch([(3, 2.0)], want)


def test_rows_by_query_orders_by_rank():
    rows = [{"query_id": 1, "rank": 2, "doc_id": 5, "score": 1.0},
            {"query_id": 1, "rank": 1, "doc_id": 9, "score": 2.0},
            {"query_id": 2, "rank": 1, "doc_id": 4, "score": 3.0}]
    assert checks.rows_by_query(rows) == {1: [(9, 2.0), (5, 1.0)],
                                          2: [(4, 3.0)]}


def test_rrf_reference_fuses_ranks():
    emb = np.eye(4)
    # BM25 ranks docs 2, 0; kNN of e1 ranks doc 1 first, then 0, 2, 3
    # (cosine ties broken by doc_id)
    got = checks.rrf_reference([(2, 5.0), (0, 4.0)], emb, [0, 1, 0, 0],
                               k=3, depth=2)
    # doc 0: 1/62 + 1/62; doc 2: 1/61; doc 1: 1/61 → 0 first, then 1, 2
    assert got == [0, 1, 2]


def test_text_mismatches():
    want = {"a": "x", "b": "é"}
    assert checks.text_mismatches({"a": "x", "b": "é"}, want) == []
    assert checks.text_mismatches({"a": "x", "b": "e\u0301"}, want) == ["b"]
    assert checks.text_mismatches({"a": "x"}, want) == ["b"]
    assert checks.text_mismatches({"a": "x", "b": "é", "c": ""},
                                  want) == ["c"]


# ------------------------------------------------------------ spans

def _span(tr, sid, name, parent, start, end):
    sp = Span(sid, name, parent, 1, start)
    sp.end = end
    tr.spans.append(sp)
    return sp


def test_self_time_subtracts_union_of_children():
    tr = Tracer(None)
    root = _span(tr, 1, "root", None, 0.0, 10.0)
    _span(tr, 2, "a", 1, 1.0, 4.0)
    _span(tr, 3, "b", 1, 3.0, 5.0)   # overlaps a
    _span(tr, 4, "c", 1, 8.0, 9.0)
    _span(tr, 5, "grandchild", 2, 1.5, 2.0)  # not a direct child
    assert tr.self_time(root) == pytest.approx(10.0 - 4.0 - 1.0)
    assert tr.self_time(tr.of("c")[0]) == pytest.approx(1.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer(None)
    with tr.span("x", 1) as sp:
        assert sp is None
    tr.record("y", 0.0, 1.0)
    assert tr.spans == []


# ------------------------------------------------------------ metrics map

def test_benchmark_json_matches_the_metrics_the_run_prints():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        {k: v[0] for k, v in layers.METRICS.items()}
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    import workloads

    assert run.WORKLOADS == tuple(workloads.WORKLOADS)


# ------------------------------------------------------------ processes

def test_peak_rss_counts_children_and_reap_stops_them():
    child = subprocess.Popen([sys.executable, "-c",
                              "import time; time.sleep(60)"])
    try:
        assert child.pid in procs.descendants(os.getpid())
        mb, parts = procs.peak_rss_mb()
        assert mb == sum(p[2] for p in parts) > 0
        assert {os.getpid(), child.pid} <= {p[0] for p in parts}
        assert procs.reap_descendants(timeout_s=10) == [child.pid]
        assert child.wait(timeout=5) is not None
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()
    assert procs.process_age_s() > 0
