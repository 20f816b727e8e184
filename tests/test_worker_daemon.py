"""Worker-daemon preload (round 6): sessions from get_spark fork their
Python workers from a daemon that already imported the engine's
worker-side modules, so the first task of a job does not pay the import
chain inside a timed region (guide §4.3)."""

import os

import pytest

import pdf_to_opensearch_spark.worker_daemon as wd


def test_daemon_module_importable_and_delegates():
    # the module must never fail at import (a broken daemon module takes
    # down every Python job of the session) and must expose pyspark's
    # manager as its entry point
    from pyspark.daemon import manager

    assert wd.manager is manager


@pytest.mark.skipif(os.environ.get("SPARK_GRAFT_DAEMON_PRELOAD") == "0",
                    reason="preloading daemon disabled by opt-out")
def test_session_configures_daemon_and_workers_inherit_imports(spark):
    assert (spark.sparkContext.getConf().get("spark.python.daemon.module",
                                             None)
            == "pdf_to_opensearch_spark.worker_daemon")

    def probe(it):
        import sys as _s
        for pdf in it:
            pdf["ok"] = int(
                "pdf_to_opensearch_spark.indexer" in _s.modules
                and "pyarrow.parquet" in _s.modules)
            yield pdf

    rows = (spark.range(0, 4, 1, numPartitions=4)
            .mapInPandas(probe, schema="id long, ok int").collect())
    assert len(rows) == 4
    assert all(r["ok"] == 1 for r in rows)


def test_daemon_disabled_when_existing_jvm_lacks_package_path(monkeypatch):
    # a stopped earlier context leaves the py4j gateway (and its JVM's
    # frozen environment) behind: the daemon module must only be enabled
    # when that JVM can import the package
    from types import SimpleNamespace

    from pyspark import SparkContext

    from pdf_to_opensearch_spark.session import _daemon_module

    def gateway(pythonpath):
        system = SimpleNamespace(getenv=lambda name: pythonpath)
        return SimpleNamespace(
            jvm=SimpleNamespace(java=SimpleNamespace(
                lang=SimpleNamespace(System=system))))

    monkeypatch.setattr(os, "environ", dict(os.environ))
    os.environ.pop("SPARK_GRAFT_DAEMON_PRELOAD", None)
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    monkeypatch.setattr(SparkContext, "_gateway", gateway(None))
    assert _daemon_module() is None
    root = os.path.dirname(os.path.dirname(os.path.abspath(wd.__file__)))
    monkeypatch.setattr(SparkContext, "_gateway", gateway(root))
    assert _daemon_module() == "pdf_to_opensearch_spark.worker_daemon"
