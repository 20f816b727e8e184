"""Per-layer metrics of a traced run, and the map from each one to the
end-to-end metric it should move and the workload where it shows.

Every traced run reports every metric below. Per-call metrics are the
median over that run's spans of that call; spans of timed iterations are
used when the run has any, set-up spans otherwise (query_serve and
ingest_serve build their index once, in set-up; a traced crawl_build
run calls the serving layers once after its timed region). Both
workloads of BENCHMARK.json call every layer in a traced run; a layer
that ingest_serve never calls did no work there and reports 0.
"""

from __future__ import annotations

import summary

# the streaming, resident-Searcher and maintenance layers run in
# ingest_serve's loop and in query_serve's set-up (its setup_s)
INGEST = "ingest_serve, query_serve set-up"

# name → (unit, layer, end-to-end metric it moves, workload)
METRICS = {
    "session.get_spark_s": ("s", "session", "setup_s", "all"),
    "extract.busy_s": ("s", "extract", "build_docs_per_s", "crawl_build"),
    "extract.html_mb_per_s": ("MB/s", "extract", "build_docs_per_s",
                              "crawl_build"),
    "indexer.prepare_docs.busy_s": ("s", "indexer", "build_docs_per_s",
                                    "crawl_build"),
    "indexer.prepare_docs.spark_jobs": ("count", "indexer",
                                        "build_docs_per_s", "crawl_build"),
    "indexer.prepare_docs.spark_tasks": ("count", "indexer",
                                         "build_docs_per_s", "crawl_build"),
    "indexer.build_postings.busy_s": ("s", "indexer", "build_docs_per_s",
                                      "crawl_build"),
    "indexer.build_postings.spark_jobs": ("count", "indexer",
                                          "build_docs_per_s", "crawl_build"),
    "indexer.build_postings.spark_tasks": ("count", "indexer",
                                           "build_docs_per_s", "crawl_build"),
    "indexer.build_postings.spimi_write_s": ("s", "indexer",
                                             "build_docs_per_s",
                                             "crawl_build"),
    "indexer.build_postings.derived_tables_s": ("s", "indexer",
                                                "build_docs_per_s",
                                                "crawl_build"),
    "analyzer.tokens": ("count", "analyzer", "build_docs_per_s",
                        "crawl_build"),
    "indexer.tokens_per_s": ("1/s", "analyzer", "build_docs_per_s",
                             "crawl_build"),
    "codec.postings_bytes": ("B", "codec", "index_bytes_per_text_byte",
                             "crawl_build"),
    "codec.dictionary_bytes": ("B", "codec", "index_bytes_per_text_byte",
                               "crawl_build"),
    "codec.docs_bytes": ("B", "codec", "index_bytes_per_text_byte",
                         "crawl_build"),
    "codec.bytes_per_posting": ("B", "codec", "index_bytes_per_text_byte",
                                "crawl_build"),
    "query.search.plan_ms": ("ms", "query", "match_p50_ms", "query_serve"),
    "query.search.exec_ms": ("ms", "query", "match_p50_ms", "query_serve"),
    "query.search.spark_jobs": ("count", "query", "match_p50_ms",
                                "query_serve"),
    "query.search.spark_tasks": ("count", "query", "match_p50_ms",
                                 "query_serve"),
    "query.phrase_search.plan_ms": ("ms", "query", "phrase_p50_ms",
                                    "query_serve"),
    "query.phrase_search.exec_ms": ("ms", "query", "phrase_p50_ms",
                                    "query_serve"),
    "query.phrase_search.spark_jobs": ("count", "query", "phrase_p50_ms",
                                       "query_serve"),
    "query.phrase_search.spark_tasks": ("count", "query", "phrase_p50_ms",
                                        "query_serve"),
    "hybrid.search_hybrid.plan_ms": ("ms", "hybrid", "hybrid_p50_ms",
                                     "query_serve"),
    "hybrid.search_hybrid.exec_ms": ("ms", "hybrid", "hybrid_p50_ms",
                                     "query_serve"),
    "hybrid.search_hybrid.spark_jobs": ("count", "hybrid", "hybrid_p50_ms",
                                        "query_serve"),
    "streaming.append_batch.busy_s": ("s", "streaming",
                                      "ingest_visible_p50_ms",
                                      INGEST),
    "streaming.append_batch.spark_jobs": ("count", "streaming",
                                          "ingest_visible_p50_ms",
                                          INGEST),
    "streaming.append_batch.spark_tasks": ("count", "streaming",
                                           "ingest_visible_p50_ms",
                                           INGEST),
    "streaming.bytes_per_text_byte": ("ratio", "streaming",
                                      "ingest_docs_per_s", INGEST),
    "query.Searcher.init_ms": ("ms", "query", "ingest_visible_p50_ms",
                               INGEST),
    "query.Searcher.search.plan_ms": ("ms", "query", "batch_qps",
                                      INGEST),
    "query.Searcher.search.exec_ms": ("ms", "query", "batch_qps",
                                      INGEST),
    "query.Searcher.search.spark_tasks": ("count", "query", "batch_qps",
                                          INGEST),
    "index.ranges": ("count", "query", "batch_qps", INGEST),
    "maintenance.force_merge.busy_s": ("s", "maintenance",
                                       "ingest_docs_per_s", INGEST),
    "maintenance.force_merge.bytes_written": ("B", "maintenance",
                                              "batch_qps", INGEST),
    "maintenance.force_merge.spark_jobs": ("count", "maintenance",
                                           "ingest_docs_per_s",
                                           INGEST),
    "trace.overhead_ratio": ("ratio", "benchmark", "all", "all"),
}


def _spans(tracer, name: str) -> list:
    spans = tracer.of(name)
    timed = [s for s in spans if s.iteration]
    return timed or spans


def _med(values) -> float:
    values = list(values)
    return summary.median(values) if values else 0.0


def compute(tracer, outcome) -> dict[str, float]:
    """All of :data:`METRICS` from the spans of one traced run."""
    m: dict[str, float] = {}

    def call(name: str, metrics: tuple[str, ...]):
        """Per-call medians of span ``name``: ``busy_s``/``init_ms`` are
        its duration, ``plan_ms``/``exec_ms`` its two child spans."""
        spans = _spans(tracer, name)
        prefix = name.rsplit(".", 1)[0] if "init_ms" in metrics else name
        for metric in metrics:
            if metric in ("plan_ms", "exec_ms"):
                vals = (s.duration * 1e3 for s in
                        _spans(tracer, f"{name}.{metric[:4]}"))
            elif metric == "init_ms":
                vals = (s.duration * 1e3 for s in spans)
            elif metric == "busy_s":
                vals = (s.duration for s in spans)
            elif metric == "spark_jobs":
                vals = (len(s.jobs) for s in spans)
            else:
                vals = (s.tasks for s in spans)
            m[f"{prefix}.{metric}"] = _med(vals)
        return spans

    m["session.get_spark_s"] = _med(
        s.duration for s in tracer.of("session.get_spark"))

    ext = _spans(tracer, "extract.extract_docs")
    m["extract.busy_s"] = _med(s.duration for s in ext)
    m["extract.html_mb_per_s"] = _med(
        s.attrs["html_bytes"] / 1e6 / s.duration for s in ext)

    prep = call("indexer.prepare_docs", ("busy_s", "spark_jobs",
                                         "spark_tasks"))
    post = call("indexer.build_postings", ("busy_s", "spark_jobs",
                                           "spark_tasks"))
    m["indexer.build_postings.spimi_write_s"] = _med(
        s.attrs.get("timing.spimi_write", 0.0) for s in post)
    m["indexer.build_postings.derived_tables_s"] = _med(
        s.attrs.get("timing.derived_tables", 0.0) for s in post)
    builds = _spans(tracer, "crawl.build")
    m["analyzer.tokens"] = _med(s.attrs["tokens"] for s in builds)
    m["indexer.tokens_per_s"] = _med(
        b.attrs["tokens"] / (p.duration + q.duration)
        for b, p, q in zip(builds, prep, post))
    m["codec.postings_bytes"] = _med(s.attrs["bytes.postings"] for s in builds)
    m["codec.dictionary_bytes"] = _med(
        s.attrs["bytes.dictionary"] for s in builds)
    m["codec.docs_bytes"] = _med(s.attrs["bytes.docs"] for s in builds)
    m["codec.bytes_per_posting"] = _med(
        s.attrs["bytes.postings"] / s.attrs["postings"] for s in builds)

    plan_exec = ("plan_ms", "exec_ms", "spark_jobs", "spark_tasks")
    call("query.search", plan_exec)
    call("query.phrase_search", plan_exec)
    call("hybrid.search_hybrid", plan_exec[:3])

    app = call("streaming.append_batch", ("busy_s", "spark_jobs",
                                          "spark_tasks"))
    text = sum(s.attrs["text_bytes"] for s in app)
    m["streaming.bytes_per_text_byte"] = (
        sum(s.attrs["grow_bytes"] for s in app) / text if text else 0.0)
    call("query.Searcher.init", ("init_ms",))
    srch = call("query.Searcher.search", ("plan_ms", "exec_ms",
                                          "spark_tasks"))
    m["index.ranges"] = _med(s.attrs["ranges"] for s in srch)

    merge = call("maintenance.force_merge", ("busy_s", "spark_jobs"))
    m["maintenance.force_merge.bytes_written"] = _med(
        s.attrs["bytes_written"] for s in merge)

    t, u = outcome.primary_traced, outcome.primary_untraced
    m["trace.overhead_ratio"] = (summary.ratio(_med(t), _med(u))
                                 if t and u else 0.0)
    missing = set(METRICS) ^ set(m)
    if missing:
        raise RuntimeError(f"per-layer metrics out of sync: {missing}")
    return m
