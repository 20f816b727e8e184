"""One postings writer for build, resume, append, delete and merge.

Each mutation's result must equal a full ``build_postings`` rerun over
its own docs table (carry-over + partial rebuild == full rebuild); a
``file://`` root must build the same index as a plain path; and the
legacy layouts are refused before anything is written."""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdf_to_opensearch_spark.extract import extract_docs
from pdf_to_opensearch_spark.indexer import (
    IndexPaths,
    LegacyLayoutError,
    build_index,
    build_postings,
    list_parquet_files,
    resume_info,
)
from pdf_to_opensearch_spark.query import search
from pdf_to_opensearch_spark.synth import make_pages

QUERIES = [(1, "spark index posting"), (2, "query merge block"),
           (3, "딸기 육묘")]


@pytest.fixture(scope="module")
def seed_index(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("writer") / "seed")
    pages = make_pages(spark, n_docs=160, seed=5, partitions=4)
    build_index(spark, extract_docs(pages), root, num_ranges=4, n_buckets=8,
                id_partitions=4)
    return root


@pytest.fixture()
def index(seed_index, tmp_path):
    root = str(tmp_path / "idx")
    shutil.copytree(seed_index, root)
    return root


def _rows(spark, path, drop=()):
    df = spark.read.parquet(path)
    cols = sorted(c for c in df.columns if c not in drop)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _stats(spark, root):
    # avgdl_build and docs_per_range record how the index was built
    # (a snapshot keeps its source's avgdl_build, an append its first
    # build's docs_per_range), not what it holds
    row = spark.read.parquet(IndexPaths(root).stats).collect()[0].asDict()
    return {k: v for k, v in row.items()
            if k not in ("avgdl_build", "docs_per_range")}


def _assert_equals_full_rebuild(spark, root, tmp_path):
    copy = str(tmp_path / "rebuilt")
    shutil.copytree(root, copy)
    st = spark.read.parquet(IndexPaths(copy).stats).collect()[0]
    build_postings(spark, copy, num_ranges=int(st["num_ranges"]),
                   n_buckets=int(st["n_buckets"]))
    a, b = IndexPaths(root), IndexPaths(copy)
    assert (_rows(spark, a.postings, drop=("wall_ms",))
            == _rows(spark, b.postings, drop=("wall_ms",)))
    assert _rows(spark, a.dictionary) == _rows(spark, b.dictionary)
    assert (_rows(spark, a.manifest, drop=("wall_ms", "committed_at"))
            == _rows(spark, b.manifest, drop=("wall_ms", "committed_at")))
    assert _stats(spark, root) == _stats(spark, copy)


def _batch(spark, n, tag):
    return spark.createDataFrame(pd.DataFrame({
        "url": [f"app://{tag}/d{i:03d}" for i in range(n)],
        "text": [f"appended spark {tag} doc {i} merge index posting"
                 for i in range(n)],
        "lang": ["en"] * n,
    }))


def test_append_equals_full_rebuild(spark, index, tmp_path):
    from pdf_to_opensearch_spark.streaming import append_batch

    assert append_batch(spark, _batch(spark, 12, "a"), index,
                        batch_id=1) == 12
    _assert_equals_full_rebuild(spark, index, tmp_path)


def test_force_merge_equals_full_rebuild(spark, index, tmp_path):
    from pdf_to_opensearch_spark.maintenance import force_merge
    from pdf_to_opensearch_spark.streaming import append_batch

    for b in range(2):
        append_batch(spark, _batch(spark, 9, f"m{b}"), index, batch_id=b)
    out = str(tmp_path / "merged")
    force_merge(spark, index, out)
    _assert_equals_full_rebuild(spark, out, tmp_path)


@pytest.mark.parametrize("one_postings_file", [False, True])
def test_delete_equals_full_rebuild(spark, index, tmp_path,
                                    one_postings_file):
    from pdf_to_opensearch_spark.maintenance import delete_from_index

    paths = IndexPaths(index)
    if one_postings_file:
        # every range in one file (a Spark-written layout): the untouched
        # ranges' rows carry over through a filtered rewrite, not a copy
        staged = str(tmp_path / "postings")
        spark.read.parquet(paths.postings).coalesce(1).write.parquet(staged)
        shutil.rmtree(paths.postings)
        shutil.move(staged, paths.postings)
    doomed = [r["url"] for r in spark.read.parquet(paths.docs)
              .filter("range_id = 1 AND doc_id % 5 = 0")
              .select("url").collect()]
    out = str(tmp_path / "snap")
    delete_from_index(spark, index, out, doomed)
    assert spark.read.parquet(IndexPaths(out).docs).filter(
        F.col("url").isin(doomed)).count() == 0
    _assert_equals_full_rebuild(spark, out, tmp_path)


def test_snapshots_keep_ranges_whole_when_spark_splits_files(
        spark, index, tmp_path):
    from pdf_to_opensearch_spark.maintenance import (
        delete_from_index,
        force_merge,
    )

    # docs files of several row groups, then splits smaller than one
    # file: a plain Spark read scatters each range over partitions
    paths = IndexPaths(index)
    staged = str(tmp_path / "docs")
    (spark.read.parquet(paths.docs).write
     .option("parquet.block.size", 4096)
     .option("parquet.page.size.row.check.min", 4)
     .parquet(staged))
    shutil.rmtree(paths.docs)
    shutil.move(staged, paths.docs)
    n_files = len(list_parquet_files(spark, paths.docs)[1])
    doomed = [r["url"] for r in spark.read.parquet(paths.docs)
              .filter("doc_id % 7 = 0").select("url").collect()]
    key = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(key, "4096")
    try:
        assert spark.read.parquet(paths.docs).rdd.getNumPartitions() \
            > n_files
        delete_from_index(spark, index, str(tmp_path / "snap"), doomed)
        force_merge(spark, index, str(tmp_path / "merged"))
    finally:
        spark.conf.unset(key)
    for out in ("snap", "merged"):
        os.makedirs(tmp_path / f"{out}-check")
        _assert_equals_full_rebuild(spark, str(tmp_path / out),
                                    tmp_path / f"{out}-check")


def test_resume_equals_full_rebuild(spark, index, tmp_path):
    # crash between the postings write and the manifest commit: range
    # 2's postings are on disk but its manifest row is not — resume must
    # drop the stale rows rather than duplicate them
    paths = IndexPaths(index)
    staged = str(tmp_path / "manifest")
    (spark.read.parquet(paths.manifest).filter("range_id <> 2")
     .write.parquet(staged))
    shutil.rmtree(paths.manifest)
    shutil.move(staged, paths.manifest)
    done = resume_info(spark, index)
    assert 2 not in done and done
    build_postings(spark, index, num_ranges=4, n_buckets=8,
                   completed_ranges=done)
    _assert_equals_full_rebuild(spark, index, tmp_path)


def test_file_uri_root_builds_identical_index(spark, tmp_path):
    pages = make_pages(spark, n_docs=80, seed=21, partitions=2)
    plain = str(tmp_path / "plain")
    uri = "file://" + str(tmp_path / "uri")
    for root in (plain, uri):
        build_index(spark, extract_docs(pages), root, num_ranges=3,
                    n_buckets=8, id_partitions=3)
    a, b = IndexPaths(plain), IndexPaths(uri)
    assert (_rows(spark, a.postings, drop=("wall_ms",))
            == _rows(spark, b.postings, drop=("wall_ms",)))
    for t in ("docs", "dictionary", "doc_stats", "docs_meta", "stats"):
        assert _rows(spark, getattr(a, t)) == _rows(spark, getattr(b, t)), t
    assert (_rows(spark, a.manifest, drop=("wall_ms", "committed_at"))
            == _rows(spark, b.manifest, drop=("wall_ms", "committed_at")))
    got = [search(spark, r, QUERIES, k=10).toPandas()
           .sort_values(["query_id", "rank"], ignore_index=True)
           for r in (plain, uri)]
    pd.testing.assert_frame_equal(got[0], got[1])


def _tree(root):
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[p] = fh.read()
    return out


def test_docs_without_range_id_refused(spark, index, tmp_path):
    from pdf_to_opensearch_spark.maintenance import delete_from_index, force_merge
    from pdf_to_opensearch_spark.streaming import append_batch

    paths = IndexPaths(index)
    legacy = paths.docs + ".legacy"
    spark.read.parquet(paths.docs).drop("range_id").write.parquet(legacy)
    shutil.rmtree(paths.docs)
    shutil.move(legacy, paths.docs)
    before = _tree(index)
    calls = [
        lambda: append_batch(spark, _batch(spark, 3, "l"), index,
                             batch_id=1),
        lambda: build_postings(spark, index, num_ranges=4, n_buckets=8,
                               completed_ranges={0}),
        lambda: delete_from_index(spark, index, str(tmp_path / "d"),
                                  ["nope"]),
        lambda: force_merge(spark, index, str(tmp_path / "m")),
    ]
    for call in calls:
        with pytest.raises(LegacyLayoutError,
                           match="no range_id.*maintenance.reindex"):
            call()
    assert _tree(index) == before
    assert not os.path.exists(tmp_path / "d")
    assert not os.path.exists(tmp_path / "m")
