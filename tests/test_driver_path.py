"""The in-driver read path against the distributed plan it replaces for
small inputs: ``search``, ``phrase_search``, both ``Searcher`` methods and
``search_hybrid`` must return the same rows (doc ids and f64 scores) with
the postings budget at its default and forced to 0, and the default must
launch no Spark job for a small call."""

import os
import shutil

import numpy as np
import pandas as pd
import pytest

from pdf_to_opensearch_spark import query
from pdf_to_opensearch_spark.extract import extract_docs
from pdf_to_opensearch_spark.indexer import build_index
from pdf_to_opensearch_spark.synth import make_pages

QUERIES = [
    (1, "spark index posting"),
    (2, "query score merge block"),
    (3, "딸기 육묘"),
    (4, "the the spark"),
    (5, "nonexistentterm12345"),
    (6, "token document search rank batch stream"),
]
PHRASES = [(1, "spark index"), (2, "the content"), (3, "index posting"),
           (4, "merge block score")]
K = 7


def spark_jobs(spark, fn):
    """(result rows, number of Spark jobs launched by ``fn().collect()``)."""
    import time
    import uuid

    sc = spark.sparkContext
    group = f"driver-path-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rows = fn().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    time.sleep(0.3)  # the status store is fed by the listener bus
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df) -> pd.DataFrame:
    return (df.toPandas().sort_values(["query_id", "rank"])
            .reset_index(drop=True))


def _distributed(monkeypatch, fn):
    with monkeypatch.context() as m:
        m.setattr(query, "DRIVER_POSTINGS_MAX", 0)
        return _rows(fn())


def _assert_same(monkeypatch, fn):
    """Default budget (driver) == budget 0 (distributed), exact floats."""
    local = _rows(fn())
    dist = _distributed(monkeypatch, fn)
    pd.testing.assert_frame_equal(local, dist, check_exact=True)
    return local


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("drvidx"))
    pages = make_pages(spark, n_docs=240, seed=11, partitions=4)
    build_index(spark, extract_docs(pages), root, num_ranges=5, n_buckets=8,
                id_partitions=4)
    return root


def test_small_phrase_search_launches_no_spark_job(spark, index_dir):
    # the search twin is in tests/test_plans.py
    rows, jobs = spark_jobs(
        spark, lambda: query.phrase_search(spark, index_dir, PHRASES[:1],
                                           k=K))
    assert rows and jobs == 0


def test_budget_zero_takes_distributed_plan(spark, index_dir, monkeypatch):
    monkeypatch.setattr(query, "DRIVER_POSTINGS_MAX", 0)
    rows, jobs = spark_jobs(
        spark, lambda: query.search(spark, index_dir, QUERIES[:1], k=K))
    assert rows and jobs > 0


@pytest.mark.parametrize("prune", [True, False])
def test_search_driver_equals_distributed(spark, index_dir, monkeypatch,
                                          prune):
    got = _assert_same(monkeypatch, lambda: query.search(
        spark, index_dir, QUERIES, k=K, prune=prune))
    assert got["query_id"].nunique() >= 4


def test_search_after_and_msm_driver_equals_distributed(spark, index_dir,
                                                        monkeypatch):
    first = _rows(query.search(spark, index_dir, QUERIES, k=3, prune=False))
    last = first.groupby("query_id").tail(1)
    after = {int(r.query_id): (float(r.score), int(r.doc_id))
             for r in last.itertuples()}
    got = _assert_same(monkeypatch, lambda: query.search(
        spark, index_dir, QUERIES, k=K, after=after))
    assert len(got)
    for msm in (2, "75%"):
        _assert_same(monkeypatch, lambda: query.search(
            spark, index_dir, QUERIES, k=K, minimum_should_match=msm))


@pytest.mark.parametrize("slop", [0, 1])
def test_phrase_driver_equals_distributed(spark, index_dir, monkeypatch,
                                          slop):
    got = _assert_same(monkeypatch, lambda: query.phrase_search(
        spark, index_dir, PHRASES, k=K, slop=slop))
    assert len(got)


@pytest.mark.parametrize("preload", [False, True])
def test_searcher_driver_equals_distributed(spark, index_dir, monkeypatch,
                                            preload):
    s = query.Searcher(spark, index_dir, preload_dictionary=preload)
    batch = QUERIES * 3  # 18 queries: the dense batch kernel (>= 16)
    batch = [(i, t) for i, (_q, t) in enumerate(batch)]
    for prune in (True, False):
        _assert_same(monkeypatch, lambda: s.search(batch, k=K, prune=prune))
    got = _assert_same(monkeypatch, lambda: s.phrase_search(PHRASES, k=K))
    assert len(got)
    rows, jobs = spark_jobs(spark, lambda: s.phrase_search(PHRASES, k=K))
    assert rows and jobs == 0


def test_empty_results_launch_no_spark_job(spark, index_dir):
    for q in ([(1, "...")], [(1, "nonexistentterm12345")]):
        rows, jobs = spark_jobs(
            spark, lambda: query.search(spark, index_dir, q, k=K))
        assert rows == [] and jobs == 0
    df = query.search(spark, index_dir, [(1, "")], k=K)
    assert df.columns == ["query_id", "rank", "doc_id", "score"]


def test_jvm_groupby_fallback_on_split_range(spark, index_dir, tmp_path,
                                             monkeypatch):
    """One range's postings rows split over two files: the per-file
    Spark tasks cannot score that range whole, so the distributed plan
    falls back to the JVM scan + ``groupBy(range_id)``; the driver path
    groups across files. Both must equal the aligned index."""
    import pyarrow.parquet as pq

    split = str(tmp_path / "split")
    shutil.copytree(index_dir, split)
    pdir = os.path.join(split, "postings")
    files = sorted(f for f in os.listdir(pdir) if f.endswith(".parquet"))
    biggest = max(files, key=lambda f: pq.read_metadata(
        os.path.join(pdir, f)).num_rows)
    tbl = pq.read_table(os.path.join(pdir, biggest))
    assert tbl.num_rows >= 2
    assert len(set(tbl.column("range_id").to_pylist())) == 1
    half = tbl.num_rows // 2
    os.remove(os.path.join(pdir, biggest))
    pq.write_table(tbl.slice(0, half), os.path.join(pdir, "a-" + biggest))
    pq.write_table(tbl.slice(half), os.path.join(pdir, "b-" + biggest))
    assert not query._ranges_file_aligned(
        [os.path.join(pdir, f) for f in os.listdir(pdir)
         if f.endswith(".parquet")])

    for prune in (True, False):
        want = _rows(query.search(spark, index_dir, QUERIES, k=K,
                                  prune=prune))
        fallback = _distributed(monkeypatch, lambda: query.search(
            spark, split, QUERIES, k=K, prune=prune))
        pd.testing.assert_frame_equal(fallback, want, check_exact=True)
        local = _rows(query.search(spark, split, QUERIES, k=K, prune=prune))
        pd.testing.assert_frame_equal(local, want, check_exact=True)
    want = _rows(query.phrase_search(spark, index_dir, PHRASES, k=K))
    fallback = _distributed(monkeypatch, lambda: query.phrase_search(
        spark, split, PHRASES, k=K))
    pd.testing.assert_frame_equal(fallback, want, check_exact=True)


def test_bucket_partitioned_postings_take_the_jvm_scan(spark, index_dir,
                                                      tmp_path):
    """Postings under legacy ``bucket=N/`` subdirectories hold no file
    at the top level: the driver path must not read that as an empty
    index, and the JVM scan's partition discovery answers instead."""
    legacy = str(tmp_path / "legacy")
    shutil.copytree(index_dir, legacy)
    (spark.read.parquet(f"{index_dir}/postings")
     .write.partitionBy("bucket").parquet(f"{legacy}/postings_b"))
    shutil.rmtree(f"{legacy}/postings")
    shutil.move(f"{legacy}/postings_b", f"{legacy}/postings")
    want = _rows(query.search(spark, index_dir, QUERIES, k=K))
    got = _rows(query.search(spark, legacy, QUERIES, k=K))
    assert len(want)
    pd.testing.assert_frame_equal(got, want, check_exact=True)


# ------------------------------------------------------------------ hybrid

@pytest.fixture(scope="module")
def hybrid_dir(spark, index_dir, tmp_path_factory):
    """``index_dir`` with a seeded 8-dim embedding per doc."""
    root = str(tmp_path_factory.mktemp("drvhyb") / "idx")
    shutil.copytree(index_dir, root)
    docs = spark.read.parquet(f"{root}/docs")
    n = docs.count()
    rng = np.random.default_rng(17)
    emb = rng.standard_normal((n, 8))
    emb_df = spark.createDataFrame(
        [(i, [float(x) for x in emb[i]]) for i in range(n)],
        "doc_id long, embedding array<double>")
    docs.join(emb_df, "doc_id").write.parquet(f"{root}/docs_emb")
    shutil.rmtree(f"{root}/docs")
    shutil.move(f"{root}/docs_emb", f"{root}/docs")
    return root, emb


def test_hybrid_driver_equals_distributed(spark, hybrid_dir, monkeypatch):
    from pdf_to_opensearch_spark.hybrid import search_hybrid

    root, emb = hybrid_dir
    queries = [(q, t, list(emb[3 * q])) for q, t in QUERIES]
    rows, jobs = spark_jobs(spark, lambda: search_hybrid(
        spark, root, queries[:1], k=K, depth=12))
    assert rows and jobs == 0
    got = _assert_same(monkeypatch, lambda: search_hybrid(
        spark, root, queries, k=K, depth=12))
    assert got["query_id"].nunique() == len(queries)
    # top lists of unrelated text and vectors are nearly disjoint, so
    # equal ranks in the two lists give equal RRF scores: the tie must
    # break by doc_id on both paths
    tied = got[got.duplicated(["query_id", "rrf"], keep=False)]
    assert len(tied)


def _rank_frames(rng, n_queries: int, depth: int):
    """Synthetic BM25 (top depth+5, scores with 4-dp half-way and near
    ties) and kNN (ranked) lists over overlapping doc ids."""
    bm, knn = [], []
    for q in range(1, n_queries + 1):
        docs = rng.choice(60, size=depth + 5, replace=False)
        base = np.round(rng.uniform(1, 3, size=depth + 5), 4)
        # x.xxxx5 is HALF_UP's boundary; ±1e-9 sits on either side of it
        score = base + rng.choice([0.0, 0.00005, 0.00005 - 1e-9,
                                   0.00005 + 1e-9], size=depth + 5)
        bm += [(q, int(d), float(s)) for d, s in zip(docs, score)]
        kd = rng.choice(60, size=depth, replace=False)
        knn += [(q, r, int(d)) for r, d in enumerate(kd, start=1)]
    return (pd.DataFrame(bm, columns=["query_id", "doc_id", "score"]),
            pd.DataFrame(knn, columns=["query_id", "rank", "doc_id"]))


def test_fusion_matches_spark_including_6dp_ties(spark):
    """The pandas fusion against the Spark one on the same lists: BM25
    scores on HALF_UP's 4-dp boundary, and RRF scores tied at 6 dp."""
    from pdf_to_opensearch_spark import hybrid

    depth, k = 20, 15
    bm, knn = _rank_frames(np.random.default_rng(5), 40, depth)
    bm = bm.astype({"query_id": "int32"})
    knn = knn.astype({"query_id": "int32", "rank": "int32"})
    local = hybrid._fuse_local(bm, knn, k, depth,
                               hybrid.RRF_K0).reset_index(drop=True)
    dist = (hybrid._fuse(
        spark.createDataFrame(bm, "query_id int, doc_id long, score double"),
        spark.createDataFrame(knn, "query_id int, rank int, doc_id long"),
        k, depth, hybrid.RRF_K0)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(local, dist, check_exact=True)
    assert local.duplicated(["query_id", "rrf"]).sum() >= 10


def test_spark_round_matches_f_round(spark):
    from pyspark.sql import functions as F

    from pdf_to_opensearch_spark.hybrid import spark_round

    rng = np.random.default_rng(3)
    vals = ([2.675, 0.0125, 1.00005, 0.1234565, 5e-7, 1e-12, 0.0, 123.45,
             float("nan")]
            + [1.0 / (60 + a) + 1.0 / (60 + b)
               for a in range(1, 30) for b in range(a, 30)]
            + list(rng.uniform(0, 20, 500))
            + list(np.round(rng.uniform(0, 20, 200), 4) + 0.00005))
    df = spark.createDataFrame([(i, float(v)) for i, v in enumerate(vals)],
                               "i int, v double")
    got = (df.select("i", F.round("v", 4).alias("r4"),
                     F.round("v", 6).alias("r6"))
           .toPandas().sort_values("i"))
    np.testing.assert_array_equal(spark_round(vals, 4), got["r4"].to_numpy())
    np.testing.assert_array_equal(spark_round(vals, 6), got["r6"].to_numpy())
