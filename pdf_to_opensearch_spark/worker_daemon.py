"""Python worker daemon with the engine's worker-side modules preloaded.

Spark's Python daemon (``pyspark.daemon``) forks one process per task
slot; anything imported in the daemon parent is inherited by every
forked worker via copy-on-write. The stock daemon already imports the
pyspark/pandas stack (``pyspark.worker``), but NOT this package or
``pyarrow.parquet`` — so the first task that unpickles an engine
closure pays the import chain (~60-100 ms measured on this sandbox)
inside whatever region is being timed, at every parallelism level
(guide §4.3: heavyweight init once per process, not per task).

Selected via ``spark.python.daemon.module`` (see ``session.get_spark``),
which requires the package to be importable from the daemon's
``PYTHONPATH`` — the session factory exports it before the JVM launches
and only enables the conf when it could. Import failures of the
preloads must never take the daemon down: they only mean the first
task pays the import again, exactly as without this module.
"""

try:  # pragma: no cover - trivial import wiring
    import pyarrow  # noqa: F401
    import pyarrow.parquet  # noqa: F401

    # deliberately ONLY the deep shared import chains (indexer/query pull
    # analyzer, codec, oracle, numpy/pandas plumbing): the daemon's own
    # import time is paid when the session's FIRST Python-worker job
    # triggers the daemon fork — which in a build-then-query session is
    # inside the timed index build — so each module preloaded here must
    # save more downstream than it costs there. Leaf task modules
    # (ops.dedup, ops.similarity, hybrid, boolquery) import in 5-50 ms
    # once these chains are resident and are left to first use.
    import pdf_to_opensearch_spark.indexer  # noqa: F401  (analyzer, codec)
    import pdf_to_opensearch_spark.query  # noqa: F401
except Exception as e:  # noqa: BLE001 - preload is best-effort by design
    # stderr only: stdout carries the daemon protocol
    import sys

    sys.stderr.write(f"worker_daemon preload skipped: {e!r}\n")

from pyspark.daemon import manager

if __name__ == "__main__":
    manager()
