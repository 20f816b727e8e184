"""Crossover sweep for ``query.DRIVER_POSTINGS_MAX``.

Builds one synthetic index, then times ``Searcher.search`` batches of
growing size (Zipf-drawn 1-3 term queries over the synthetic vocabulary,
the query mix of ``perfbench``'s ``query_serve``) twice per batch: scored
in the driver (budget raised past the batch) and by the distributed plan
(budget 0). Runs alternate driver/distributed per repetition, and each
cell is the median of ``--reps``. Prints one JSON line per batch:
queries, Σdf over the batch's distinct live terms, and both medians.

    python tools/driver_budget_sweep.py --docs 6000 --reps 3
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def zipf_queries(seed: int, n: int, max_terms: int = 3) -> list[str]:
    import numpy as np

    from pdf_to_opensearch_spark import synth

    rng = np.random.default_rng(seed)
    vocab = np.array(synth._vocab())
    probs = 1.0 / np.arange(1, vocab.size + 1)
    probs /= probs.sum()
    lens = rng.integers(1, max_terms + 1, size=n)
    return [" ".join(vocab[rng.choice(vocab.size, size=int(m), p=probs)])
            for m in lens]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=6000)
    ap.add_argument("--ranges", type=int, default=8)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--batches", default="1,4,16,64,256,512,1024,2048")
    ap.add_argument("--prune", action="store_true",
                    help="block-max pruning on (default: off, the batch "
                         "setting of perfbench's Searcher batch)")
    ap.add_argument("--workdir", default=None)
    args = ap.parse_args()

    from pdf_to_opensearch_spark import query
    from pdf_to_opensearch_spark.analyzer import tokenize_text
    from pdf_to_opensearch_spark.extract import extract_docs
    from pdf_to_opensearch_spark.indexer import build_index
    from pdf_to_opensearch_spark.session import get_spark
    from pdf_to_opensearch_spark.synth import make_pages_pdf

    spark = get_spark("driver_budget_sweep",
                      cores=int(os.environ.get("SPARK_GRAFT_CPUS",
                                               os.cpu_count() or 4)))
    spark.sparkContext.setLogLevel("ERROR")
    work = args.workdir or tempfile.mkdtemp(prefix="budget_sweep_")
    os.makedirs(work, exist_ok=True)
    pages = os.path.join(work, "pages.parquet")
    make_pages_pdf(n_docs=args.docs, seed=42, min_len=100,
                   max_len=800).drop(columns=["warc_ts"]).to_parquet(pages)
    idx = os.path.join(work, "idx")
    build_index(spark, extract_docs(spark.read.parquet(pages)), idx,
                num_ranges=args.ranges, n_buckets=16,
                id_partitions=args.ranges)
    s = query.Searcher(spark, idx, preload_dictionary=True)
    texts = zipf_queries(7, max(int(b) for b in args.batches.split(",")))

    def timed(batch, budget) -> float:
        query.DRIVER_POSTINGS_MAX = budget
        t0 = time.perf_counter()
        s.search(batch, k=10, prune=args.prune).collect()
        return time.perf_counter() - t0

    for n in (int(b) for b in args.batches.split(",")):
        batch = list(enumerate(texts[:n], start=1))
        live = {t for _q, x in batch for t in tokenize_text(x)
                if t in s._dfs}
        sum_df = sum(s._dfs[t] for t in live)
        timed(batch, 1 << 62)  # warm-up: both paths, this batch
        timed(batch, 0)
        drv, dist = [], []
        for _ in range(args.reps):
            drv.append(timed(batch, 1 << 62))
            dist.append(timed(batch, 0))
        print(json.dumps({
            "queries": n, "sum_df": sum_df,
            "driver_ms": round(1000 * statistics.median(drv)),
            "distributed_ms": round(1000 * statistics.median(dist))}),
            flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
