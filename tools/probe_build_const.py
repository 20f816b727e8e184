"""Round-6 diagnostic: decompose the scaling build's fixed cost at a
given core count.

Replicates bench.index_once's exact environment (same warm-ups, fresh
session) on the bench scaling corpus and prints the build's phase
timings (``paths.timings``), plus (a) a warm EMPTY
spark.range->mapInPandas job (the pure submit+turnaround floor) and (b)
a worker-side first-unpickle import probe. Diagnostic only — not part of the driver contract.

Usage: python tools/probe_build_const.py <cores> [reps]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    import bench  # noqa: E402  (frozen instrument, imported read-only)

    corpus = bench._scaling_corpus()
    out_dir = os.path.join("/tmp", f"probe_build_{cores}")
    if os.environ.get("PROBE_REUSE") == "1" and os.path.isdir(
            os.path.join(out_dir, "docs")):
        print(f"reusing {out_dir}", flush=True)
    else:
        n = bench._prepare_scaling_docs(corpus, out_dir)
        print(f"prepared {n} docs -> {out_dir}", flush=True)

    from pdf_to_opensearch_spark.analyzer import token_count_udf
    from pdf_to_opensearch_spark.indexer import build_postings
    from pdf_to_opensearch_spark.session import get_spark

    for rep in range(reps):
        spark = get_spark(f"probe_build_{cores}", cores=cores,
                          shuffle_partitions=cores)
        spark.sparkContext.setLogLevel("ERROR")
        docs = spark.read.parquet(f"{out_dir}/docs")
        (docs.limit(cores * 256).repartition(cores)
         .select(token_count_udf("text")).count())

        def _idpdf(it):
            for pdf in it:
                yield pdf
        (docs.limit(cores * 8).repartition(cores)
         .select("doc_id").mapInPandas(_idpdf, schema="doc_id long")
         .count())

        # empty-job floor, measured twice (first may still pay one-time
        # costs the bench warm-up also pays; second is the true floor)
        def _noop(it):
            for pdf in it:
                yield pdf
        for tag in ("cold-ish", "warm"):
            t0 = time.monotonic()
            (spark.range(0, cores, 1, numPartitions=cores)
             .mapInPandas(_noop, schema="id long").count())
            print(f"[probe] empty range->mapInPandas ({tag}): "
                  f"{time.monotonic() - t0:.3f}s", flush=True)

        # worker-side import state probe: does the reused worker already
        # have indexer/pyarrow.parquet imported before the timed build?
        def _imp(it):
            import sys as _s
            for pdf in it:
                pdf["has_indexer"] = int(
                    "pdf_to_opensearch_spark.indexer" in _s.modules)
                pdf["has_pq"] = int("pyarrow.parquet" in _s.modules)
                yield pdf
        r = (spark.range(0, cores, 1, numPartitions=cores)
             .mapInPandas(_imp, schema="id long, has_indexer int, has_pq int")
             .toPandas())
        print(f"[probe] worker pre-imports: indexer={r.has_indexer.tolist()}"
              f" pq={r.has_pq.tolist()}", flush=True)

        t0 = time.monotonic()
        paths = build_postings(spark, out_dir, num_ranges=bench.NUM_RANGES,
                               n_buckets=bench.N_BUCKETS)
        total = time.monotonic() - t0
        print(f"[probe] rep{rep} cores={cores} total={total:.3f} "
              f"timings={ {k: round(v, 3) for k, v in paths.timings.items()} }",
              flush=True)
        spark.stop()


if __name__ == "__main__":
    main()
