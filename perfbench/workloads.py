"""The three benchmark workloads.

Each workload is a function ``(bench) -> Outcome``. It sets up from the
seed, calls the engine's public functions from one closed-loop client
(the next call starts only after the previous one returned its rows)
for ``bench.seconds`` seconds, then checks every result outside the
timed region. End-to-end numbers come from the client's own clock;
the tracer (when enabled) adds per-layer spans around the same calls.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

import numpy as np
import pandas as pd

import checks
import gen
import summary

# input sizes (BENCHMARK.json and README.md quote these)
CRAWL_DOCS = 6000
SERVE_DOCS = 1500
INGEST_BASE_DOCS = 1500
APPEND_DOCS = 100
APPENDS_PER_MERGE = 2
MIN_TOKENS, MAX_TOKENS = 100, 800
RANGES = 8
K = 10
HYBRID_DEPTH = 20
BATCH_QUERIES = 256
# one query_serve cycle: four matches, one phrase, one hybrid. Runs are
# whole cycles, so every run serves the same mix.
SERVE_MIX = ("match", "match", "phrase", "match", "match", "hybrid")
SERVE_KINDS = ("match", "phrase", "hybrid")
MAX_APPEND_BATCHES = 64
# a run's median build needs more than one build
MIN_BUILDS = 2


class Outcome:
    """What one workload run measured and checked."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}       # BENCHMARK.json end_to_end
        self.detail: dict[str, float] = {}    # named per-workload metrics
        self.elapsed = 0.0
        self.peak_rss = 0.0
        self.rss_parts: list = []
        # primary-call latencies with tracing on / off (traced runs
        # alternate, to measure the tracing overhead)
        self.primary_traced: list[float] = []
        self.primary_untraced: list[float] = []

    def primary(self, bench, seconds: float, untraced: bool) -> None:
        (self.primary_traced if bench.tracer.enabled and not untraced
         else self.primary_untraced).append(seconds)

    def needs_samples(self, bench) -> bool:
        """Keep going until the run has a primary call (and, when traced,
        one of each kind for the overhead ratio)."""
        if bench.tracer.enabled:
            return not (self.primary_traced and self.primary_untraced)
        return not self.primary_untraced

    def fail(self, what: str) -> None:
        self.failures.append(what)


def _call(out: Outcome, what: str, fn):
    """Run one engine call; an exception counts as a failed call."""
    out.attempted += 1
    try:
        return fn()
    except Exception:  # noqa: BLE001 - a failed call is a measured outcome
        out.fail(f"{what}: {traceback.format_exc(limit=3).strip()}")
        return None


def _dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (Hadoop's ``.crc`` and
    ``_SUCCESS`` markers excluded)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def table_bytes(index_dir: str) -> dict[str, int]:
    return {t: _dir_bytes(os.path.join(index_dir, t))
            for t in sorted(os.listdir(index_dir))
            if os.path.isdir(os.path.join(index_dir, t))}


def _text_bytes(texts) -> int:
    return sum(len(t.encode("utf-8")) for t in texts)


def _write_pages(pdf: pd.DataFrame, path: str) -> str:
    pdf.to_parquet(path, index=False)
    return path


def _collect(df):
    return [r.asDict() for r in df.collect()]


def _build(bench, pages_path: str, out_dir: str, iteration=None) -> dict:
    """extract → prepare → postings into ``out_dir``; returns timings."""
    from pdf_to_opensearch_spark.extract import extract_docs
    from pdf_to_opensearch_spark.indexer import build_postings, prepare_docs

    spark, tr = bench.spark, bench.tracer
    shutil.rmtree(out_dir, ignore_errors=True)
    t0 = time.perf_counter()
    with tr.span("crawl.build", iteration) as root:
        docs = extract_docs(spark.read.parquet(pages_path))
        with tr.span("indexer.prepare_docs"):
            prepare_docs(spark, docs, out_dir, id_partitions=RANGES)
        t1 = time.perf_counter()
        with tr.span("indexer.build_postings") as sp:
            paths = build_postings(spark, out_dir, num_ranges=RANGES)
            if sp is not None:
                sp.attrs.update({f"timing.{k}": v
                                 for k, v in paths.timings.items()})
    t2 = time.perf_counter()
    if root is not None:
        root.attrs.update(_codec_facts(out_dir))
        _extract_noop(bench, pages_path, iteration)
    return {"total": t2 - t0, "prepare": t1 - t0, "postings": t2 - t1}


def _extract_noop(bench, pages_path: str, iteration) -> None:
    """``extract_docs`` is lazy and fuses into ``prepare_docs``' write, so
    under tracing its cost is measured by one more pass over the same
    pages into Spark's no-op sink (never part of a timed build)."""
    from pdf_to_opensearch_spark.extract import extract_docs

    with bench.tracer.span("extract.extract_docs", iteration) as sp:
        (extract_docs(bench.spark.read.parquet(pages_path))
         .write.format("noop").mode("overwrite").save())
    sp.attrs["html_bytes"] = int(pd.read_parquet(pages_path, columns=["html"])
                                 ["html"].map(len).sum())


def _codec_facts(index_dir: str) -> dict:
    """Index table sizes, Σdf and N·avgdl of a freshly built index."""
    tb = table_bytes(index_dir)
    meta = pd.read_parquet(os.path.join(index_dir, "docs_meta"))
    df_sum = int(pd.read_parquet(os.path.join(index_dir, "dictionary"),
                                 columns=["df"])["df"].sum())
    return {"bytes.postings": tb.get("postings", 0),
            "bytes.dictionary": tb.get("dictionary", 0),
            "bytes.docs": tb.get("docs", 0),
            "postings": df_sum,
            "tokens": int(meta["sum_dl"].iloc[0])}


def _index_ratio(index_dir: str, texts) -> float:
    return summary.ratio(sum(table_bytes(index_dir).values()),
                         _text_bytes(texts))


def _yards(bench, seconds: float, k: int) -> float:
    """``seconds`` of a call made after yardstick sample ``k``, in units
    of the yardstick time around it: the mean of that sample and the next
    one, taken after the call. Steal comes in bursts of seconds, so the
    samples next to a call tell how slow the machine was during it."""
    ys = bench.yard.samples
    return seconds / ((ys[k] + ys[k + 1]) / 2)


def _e2e(call_yards: float, work: float, busy_yards: float,
         ratio: float) -> dict:
    """The gate metrics: the median call and the ``work`` items done per
    yardstick of busy time."""
    return {"call_p50_yard": call_yards,
            "work_per_yard": summary.ratio(work, busy_yards),
            "index_bytes_per_text_byte": ratio}


def _keep_going(bench, out: Outcome, start: float, unit_done: bool) -> bool:
    """Whether to start another timed call: until the current unit of
    work is whole and the run holds the samples it needs, then until
    ``--seconds`` have passed or the run nears its time limit."""
    if not unit_done or out.needs_samples(bench):
        return True
    return (time.perf_counter() - start < bench.seconds
            and not bench.out_of_time())


# ---------------------------------------------------------------- crawl_build

def crawl_build(bench) -> Outcome:
    """Offline crawl → index: repeated full builds of one seeded crawl."""
    out = Outcome()
    pages = gen.base_pages(bench.seed, CRAWL_DOCS, MIN_TOKENS, MAX_TOKENS)
    want = dict(zip(pages["url"], gen.expected_texts(pages)))
    pages_path = _write_pages(pages, bench.path("pages.parquet"))
    _build(bench, pages_path, bench.path("warmup"), iteration=0)
    shutil.rmtree(bench.path("warmup"))

    times, ks, ratio, last = [], [], None, None
    start = bench.start_timed()
    i = 0
    while _keep_going(bench, out, start, len(times) >= MIN_BUILDS):
        i += 1
        d = bench.path(f"crawl-{i}")
        untraced = i % 2 == 0
        k = bench.measure_yard()
        with bench.untraced_if(untraced):
            t = _call(out, f"build {i}", lambda: _build(bench, pages_path, d,
                                                        iteration=i))
        if t is None:
            continue
        times.append(t["total"])
        ks.append(k)
        out.primary(bench, t["total"], untraced)
        # checks run outside the timed build
        got = pd.read_parquet(os.path.join(d, "docs"), columns=["url", "text"])
        bad = checks.text_mismatches(dict(zip(got["url"], got["text"])), want)
        if bad:
            out.fail(f"build {i}: extracted text differs for {len(bad)} "
                     f"urls, e.g. {bad[:3]}")
        ratio = _index_ratio(d, want.values())
        if last is not None:
            shutil.rmtree(last)
        last = d
    bench.end_timed(out, start)
    if bench.traced and last is not None:
        _layer_tour(bench, out, pages, last)

    docs = CRAWL_DOCS * len(times)
    yards = [_yards(bench, t, k) for t, k in zip(times, ks)]
    out.e2e = _e2e(summary.median(yards), docs, sum(yards), ratio)
    out.detail.update({"build_docs_per_s": summary.ratio(docs, sum(times)),
                       **summary.timing_summary("build", times)})
    return out


def _layer_tour(bench, out: Outcome, pages: pd.DataFrame, idx: str) -> None:
    """A traced ``crawl_build`` run calls every other layer once, after
    its timed region, so that each per-layer metric is measured in every
    traced run: the serving set-up of ``query_serve`` on the last build
    (append, ``Searcher`` batch, merge) and one match, phrase and hybrid
    call, all checked."""
    q = _Queries(bench.seed, pages, BATCH_QUERIES)
    srv = _serve_state(bench, pages, idx, list(enumerate(q.match, start=1)))
    calls = []
    for kind in SERVE_KINDS:
        r = _call(out, f"tour {kind}",
                  lambda: _issue(bench, srv.idx, q, kind, 0, iteration=0))
        if r is not None:
            calls.append((kind, 0, *r))
    _check_served(out, srv, q, calls)


# ---------------------------------------------------------------- serving

class _Corpus:
    """Reference state of an index: texts in doc_id order."""

    def __init__(self, texts):
        self.texts = list(texts)
        self._oracle = None

    def append(self, pages: pd.DataFrame) -> None:
        # append_batch numbers a batch after the current max doc_id, in
        # url order; ``pages`` is url-sorted
        self.texts.extend(gen.expected_texts(pages))
        self._oracle = None

    def oracle(self):
        from pdf_to_opensearch_spark.oracle import BruteForceBM25

        if self._oracle is None:
            self._oracle = BruteForceBM25(np.arange(len(self.texts)),
                                          self.texts)
        return self._oracle


def _attach_embeddings(spark, index_dir: str, emb: np.ndarray) -> None:
    """Give the docs table an ``embedding`` column keyed by doc_id (the
    way the hybrid tests build their index)."""
    rows = [(i, [float(x) for x in emb[i]]) for i in range(emb.shape[0])]
    emb_df = spark.createDataFrame(rows,
                                   "doc_id long, embedding array<double>")
    docs = spark.read.parquet(os.path.join(index_dir, "docs"))
    tmp = os.path.join(index_dir, "docs_with_emb")
    docs.join(emb_df, "doc_id").write.mode("overwrite").parquet(tmp)
    shutil.rmtree(os.path.join(index_dir, "docs"))
    shutil.move(tmp, os.path.join(index_dir, "docs"))


def _timed_query(bench, name: str, make_df, iteration: int):
    """One read call: (plan_s, exec_s, rows). plan = until the DataFrame
    is returned, exec = its collect()."""
    tr = bench.tracer
    with tr.span(name, iteration):
        t0 = time.perf_counter()
        with tr.span(f"{name}.plan"):
            df = make_df()
        t1 = time.perf_counter()
        with tr.span(f"{name}.exec"):
            rows = _collect(df)
        t2 = time.perf_counter()
    return t1 - t0, t2 - t1, rows


def _ranges(index_dir: str) -> int:
    man = pd.read_parquet(os.path.join(index_dir, "manifest"),
                          columns=["range_id"])
    return int(man["range_id"].nunique())


def _append(bench, index_dir: str, pages: pd.DataFrame, batch: int,
            iteration: int) -> float:
    """``streaming.append_batch`` of new pages; returns its seconds."""
    from pdf_to_opensearch_spark.extract import extract_docs
    from pdf_to_opensearch_spark.streaming import append_batch

    spark, tr = bench.spark, bench.tracer
    path = _write_pages(pages, bench.path(f"append-{batch}.parquet"))
    before = _dir_bytes(index_dir) if tr.enabled else 0
    t0 = time.perf_counter()
    with tr.span("streaming.append_batch", iteration) as sp:
        n = append_batch(spark, extract_docs(spark.read.parquet(path)),
                         index_dir)
    t = time.perf_counter() - t0
    if n != len(pages):
        raise RuntimeError(f"append_batch took {n} of {len(pages)} pages")
    if sp is not None:
        sp.attrs["grow_bytes"] = _dir_bytes(index_dir) - before
        sp.attrs["text_bytes"] = _text_bytes(gen.expected_texts(pages))
    return t


def _merge(bench, src: str, dst: str, iteration: int) -> float:
    """``maintenance.force_merge`` of ``src`` into ``dst``; seconds."""
    from pdf_to_opensearch_spark.maintenance import force_merge

    t0 = time.perf_counter()
    with bench.tracer.span("maintenance.force_merge", iteration) as sp:
        force_merge(bench.spark, src, dst)
    t = time.perf_counter() - t0
    if sp is not None:
        sp.attrs["bytes_written"] = _dir_bytes(dst)
    return t


def _batch_read(bench, index_dir: str, batch_q, iteration: int):
    """A fresh resident ``Searcher`` on the index's current state, then
    one unpruned batch (the dense batch kernel needs >= 16 queries):
    (init_s, search_s, rows)."""
    from pdf_to_opensearch_spark.query import Searcher

    tr = bench.tracer
    t0 = time.perf_counter()
    with tr.span("query.Searcher.init", iteration):
        s = Searcher(bench.spark, index_dir)
    init = time.perf_counter() - t0
    plan, exe, rows = _timed_query(
        bench, "query.Searcher.search",
        lambda: s.search(batch_q, k=K, prune=False), iteration)
    if tr.enabled:
        tr.spans[-1].attrs["ranges"] = _ranges(index_dir)
    return init, plan + exe, rows


def _batch_mismatch(rows, batch_q, oracle) -> str | None:
    got = checks.rows_by_query(rows)
    bad = [q for q, text in batch_q
           if checks.ranked_mismatch(got.get(q, []), oracle.search(text, K))]
    return f"{len(bad)} queries differ, e.g. {bad[:5]}" if bad else None


# ---------------------------------------------------------------- query_serve

class _Queries:
    """Seeded single-query inputs: Zipf match terms, phrases cut from page
    text, query vectors."""

    def __init__(self, seed: int, pages: pd.DataFrame, n: int):
        self.match = gen.zipf_queries(seed, n)
        self.phrase = gen.phrase_queries(seed, pages, n)
        self.vecs = gen.query_vectors(seed, n)


class _Served:
    """An index in the state ``query_serve`` serves, with what its calls
    are checked against."""

    def __init__(self, idx, corpus, emb, ratio, batch_q, batches):
        self.idx, self.corpus, self.emb, self.ratio = idx, corpus, emb, ratio
        self.batch_q = batch_q
        self.batches = batches  # [(label, rows)] read in set-up


def _serve_state(bench, pages: pd.DataFrame, base: str, batch_q) -> _Served:
    """Bring a freshly built index to the state it is served in: one
    ``streaming.append_batch`` of new pages, a fresh ``Searcher`` batch
    on the appended state, a ``maintenance.force_merge`` into a new
    directory, embeddings on the merged docs table (the way the hybrid
    tests build their index), and one more batch there, which also warms
    up the match kernels. The batches are checked later, outside every
    timed region."""
    corpus = _Corpus(gen.expected_texts(pages))
    extra = gen.append_pages(bench.seed, 1, APPEND_DOCS, MIN_TOKENS,
                             MAX_TOKENS)
    _append(bench, base, extra, batch=1, iteration=0)
    corpus.append(extra)
    after_append = _batch_read(bench, base, batch_q, iteration=0)[2]
    idx = base + "-merged"
    _merge(bench, base, idx, iteration=0)
    shutil.rmtree(base)
    ratio = _index_ratio(idx, corpus.texts)
    emb = gen.embeddings(bench.seed, len(corpus.texts))
    _attach_embeddings(bench.spark, idx, emb)
    after_merge = _batch_read(bench, idx, batch_q, iteration=0)[2]
    return _Served(idx, corpus, emb, ratio, batch_q,
                   [("after append", after_append),
                    ("after merge", after_merge)])


def _issue(bench, idx: str, q: _Queries, kind: str, j: int, iteration: int):
    """One single-query call of ``kind``: (plan_s, exec_s, rows)."""
    from pdf_to_opensearch_spark import hybrid, query

    spark = bench.spark
    if kind == "match":
        return _timed_query(bench, "query.search", lambda: query.search(
            spark, idx, [(1, q.match[j])], k=K, prune=True), iteration)
    if kind == "phrase":
        return _timed_query(
            bench, "query.phrase_search", lambda: query.phrase_search(
                spark, idx, [(1, q.phrase[j])], k=K), iteration)
    return _timed_query(
        bench, "hybrid.search_hybrid", lambda: hybrid.search_hybrid(
            spark, idx, [(1, q.match[j], list(q.vecs[j]))], k=K,
            depth=HYBRID_DEPTH), iteration)


def _check_served(out: Outcome, srv: _Served, q: _Queries, calls) -> None:
    """The set-up batches and every single-query call against the oracle
    over the served documents (hybrid: the RRF reference)."""
    oracle = srv.corpus.oracle()
    for label, rows in srv.batches:
        out.attempted += 1
        bad = _batch_mismatch(rows, srv.batch_q, oracle)
        if bad:
            out.fail(f"set-up batch {label}: {bad}")
    for kind, j, _p, _e, rows in calls:
        got = checks.rows_by_query(
            rows, "rrf" if kind == "hybrid" else "score").get(1, [])
        if kind == "match":
            bad = checks.ranked_mismatch(got, oracle.search(q.match[j], K))
        elif kind == "phrase":
            bad = checks.ranked_mismatch(
                got, oracle.phrase_search(q.phrase[j], K))
        else:
            want = checks.rrf_reference(
                oracle.search(q.match[j], HYBRID_DEPTH + 5), srv.emb,
                q.vecs[j], K, HYBRID_DEPTH)
            ids = [d for d, _ in got]
            bad = None if ids == want else f"ids {ids} != reference {want}"
        if bad:
            out.fail(f"{kind} {j}: {bad}")


def query_serve(bench) -> Outcome:
    """One interactive user: single match / phrase / hybrid queries."""
    out = Outcome()
    pages = gen.base_pages(bench.seed, SERVE_DOCS, MIN_TOKENS, MAX_TOKENS)
    base = bench.path("serve")
    _build(bench, _write_pages(pages, bench.path("pages.parquet")), base,
           iteration=0)
    n = 512
    q = _Queries(bench.seed, pages, n)
    srv = _serve_state(bench, pages, base,
                       list(enumerate(q.match[:BATCH_QUERIES], start=1)))
    # warm-up: one phrase and one hybrid call on inputs the loop never uses
    for w, kind in enumerate(("phrase", "hybrid")):
        _issue(bench, srv.idx, q, kind, n - 1 - w, iteration=0)

    calls, ks = [], []  # (kind, j, plan_s, exec_s, rows); yardstick sample
    counters = {k: 0 for k in SERVE_MIX}
    start = bench.start_timed()
    i = 0
    while _keep_going(bench, out, start, i % len(SERVE_MIX) == 0):
        kind = SERVE_MIX[i % len(SERVE_MIX)]
        j = counters[kind]
        counters[kind] += 1
        i += 1
        untraced = kind == "match" and j % 2 == 1
        k = bench.measure_yard()
        with bench.untraced_if(untraced):
            r = _call(out, f"{kind} {j}",
                      lambda: _issue(bench, srv.idx, q, kind, j, i))
        if r is None:
            continue
        calls.append((kind, j, *r))
        ks.append(k)
        if kind == "match":
            out.primary(bench, r[0] + r[1], untraced)
    bench.end_timed(out, start)
    _check_served(out, srv, q, calls)

    lat = {k: [p + e for kind, _j, p, e, _r in calls if kind == k]
           for k in SERVE_KINDS}
    yards = {k: [_yards(bench, p + e, y)
                 for (kind, _j, p, e, _r), y in zip(calls, ks) if kind == k]
             for k in SERVE_KINDS}
    # each kind of call weighs the same in the gate: the geometric mean
    # of the three medians moves by the same share whichever kind slows.
    # Closed loop, no think time: calls per yardstick of call latency.
    out.e2e = _e2e(
        summary.geomean([summary.median(yards[k]) for k in SERVE_KINDS]),
        len(calls), sum(sum(v) for v in yards.values()), srv.ratio)
    busy = sum(sum(v) for v in lat.values())
    out.detail["serve_qps"] = summary.ratio(len(calls), busy)
    for k in SERVE_KINDS:
        out.detail.update(summary.timing_summary(k, lat[k]))
    return out


# ---------------------------------------------------------------- ingest_serve

def ingest_serve(bench) -> Outcome:
    """Appends beside batch reads, with a force-merge every
    ``APPENDS_PER_MERGE`` appends; runs whole append/merge rounds."""
    out = Outcome()
    seed = bench.seed
    base = gen.base_pages(seed, INGEST_BASE_DOCS, MIN_TOKENS, MAX_TOKENS)
    corpus = _Corpus(gen.expected_texts(base))
    generation = 0
    idx = bench.path(f"ingest-{generation}")
    _build(bench, _write_pages(base, bench.path("pages.parquet")), idx,
           iteration=0)
    batch_q = list(enumerate(gen.zipf_queries(seed, BATCH_QUERIES), start=1))
    # warm-up: one batch read of the base index. The first timed append
    # is the process's first, so every run pays the same cold append.
    _batch_read(bench, idx, batch_q, iteration=0)

    visible, batches, merges, checked = [], [], [], []
    vis_ks, busy_parts = [], []  # yardstick sample before each; (s, k)
    appended, busy, it = 0, 0.0, 0
    start = bench.start_timed()
    while _keep_going(bench, out, start, bool(merges)):
        if it >= MAX_APPEND_BATCHES:
            break
        rows = None
        for _ in range(APPENDS_PER_MERGE):
            it += 1
            pages = gen.append_pages(seed, it, APPEND_DOCS, MIN_TOKENS,
                                     MAX_TOKENS)
            untraced = it % 2 == 0
            r = None
            k = bench.measure_yard()
            with bench.untraced_if(untraced):
                a = _call(out, f"append {it}",
                          lambda: _append(bench, idx, pages, it, it))
                if a is None:
                    continue
                corpus.append(pages)
                r = _call(out, f"read after append {it}",
                          lambda: _batch_read(bench, idx, batch_q, it))
            if r is None:
                continue
            init, search, rows = r
            appended += len(pages)
            visible.append(a + init)
            batches.append(search)
            busy += a + init + search
            vis_ks.append(k)
            busy_parts.append((a + init + search, k))
            out.primary(bench, a + init, untraced)
        generation += 1
        new = bench.path(f"ingest-{generation}")
        k = bench.measure_yard()
        m = _call(out, f"merge {it}", lambda: _merge(bench, idx, new, it))
        if m is None:
            break
        shutil.rmtree(idx)
        idx = new
        merges.append(m)
        r = _call(out, f"read after merge {it}",
                  lambda: _batch_read(bench, idx, batch_q, it))
        if r is None:
            break
        batches.append(r[1])
        busy += m + r[0] + r[1]
        busy_parts.append((m + r[0] + r[1], k))
        # the reads after the round's last append and after its merge,
        # checked below against one corpus state (merging keeps doc_ids)
        checked.append((len(corpus.texts), rows, r[2]))
    bench.end_timed(out, start)
    ratio = _index_ratio(idx, corpus.texts)

    for n_docs, *results in checked:
        oracle = _Corpus(corpus.texts[:n_docs]).oracle()
        for label, rows in zip(("after append", "after merge"), results):
            if rows is None:
                continue
            out.attempted += 1
            bad = _batch_mismatch(rows, batch_q, oracle)
            if bad:
                out.fail(f"batch {label} at {n_docs} docs: {bad}")

    out.e2e = _e2e(
        summary.median([_yards(bench, v, k) for v, k in zip(visible, vis_ks)]),
        appended, sum(_yards(bench, b, k) for b, k in busy_parts), ratio)
    out.detail.update({
        "ingest_docs_per_s": summary.ratio(appended, busy),
        "batch_qps": summary.ratio(BATCH_QUERIES * len(batches),
                                   sum(batches)),
        **summary.timing_summary("ingest_visible", visible),
        **summary.timing_summary("force_merge", merges)})
    return out


WORKLOADS = {"crawl_build": crawl_build, "query_serve": query_serve,
             "ingest_serve": ingest_serve}
