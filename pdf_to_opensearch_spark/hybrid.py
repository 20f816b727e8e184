"""Hybrid retrieval: BM25 ∪ kNN with reciprocal-rank fusion.

The reference's indexed unit carries ``vector_embedding: knn_vector``
(opensearch_loader.py:202-230; embedding call 586-592) next to the text
fields, and OpenSearch serves lexical + vector retrieval over the same
document. Here the ``docs`` table of the index is the indexed unit: it can
carry an ``embedding array<float>`` column (pass it into
:func:`indexer.build_index` — :func:`indexer.assign_doc_ids` preserves all
input columns), and :func:`search_hybrid` fuses the native BM25 engine's
top-k with an exact cosine top-k over that column.

Fusion rule: reciprocal-rank fusion (RRF), score = Σ 1/(k0 + rank) over
the lists a doc appears in — rank-based, so it is stable across engines
(no score normalization constants to disagree on) and exactly
reproducible in the DuckDB oracle.

Scale notes (100 TB):
- the kNN side scans only (doc_id, embedding) — parquet column pruning
  keeps the text/html bytes untouched;
- per-partition pre-top-k inside the Arrow kernel bounds the shuffle to
  depth·partitions rows per query (same shape as ops/similarity.cosine_topk);
- the fusion itself is a union of two ≤depth·|queries| row frames — tiny.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .indexer import IndexPaths, is_local, list_parquet_files
from .query import (
    as_frame,
    load_stats,
    local_frame,
    merge_top_k,
    search_top_k,
)

RRF_K0 = 60


def _knn_kernel(query_vecs: list[tuple[int, list[float]]], k: int,
                vec_col: str):
    """Exact cosine top-k of each query vector over one batch of
    (doc_id, ``vec_col``) rows: an iterator kernel for ``mapInPandas``,
    also run in the driver by :func:`search_hybrid` on the whole table.
    Emits (query_id, doc_id, sim) ordered by sim desc, doc_id asc."""
    from collections.abc import Iterator

    qids = np.array([q for q, _v in query_vecs], dtype=np.int64)
    qm = np.stack([np.asarray(v, dtype=np.float64) for _q, v in query_vecs])
    qnorms = np.linalg.norm(qm, axis=1, keepdims=True)
    if not np.all(qnorms > 0):
        bad = qids[(qnorms[:, 0] == 0)].tolist()
        raise ValueError(f"zero-norm query vector(s) for query_id {bad}")
    qn = qm / qnorms

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            m = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            # epsilon clamp: a zero-norm stored embedding gets sim 0
            # everywhere (deterministic) instead of NaN poisoning lexsort
            m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True),
                               1e-12)
            ids = pdf["doc_id"].to_numpy(np.int64)
            sims = qn @ m.T
            out_q, out_d, out_s = [], [], []
            for qi in range(qids.size):
                s = sims[qi]
                top = min(k, ids.size)
                sel = np.lexsort((ids, -s))[:top]
                out_q.extend([qids[qi]] * top)
                out_d.extend(ids[sel].tolist())
                out_s.extend(s[sel].tolist())
            yield pd.DataFrame({
                "query_id": pd.Series(out_q, dtype="int32"),
                "doc_id": pd.Series(out_d, dtype="int64"),
                "sim": pd.Series(out_s, dtype="float64"),
            })

    return kernel


def knn_docs_topk(spark: SparkSession, index_dir: str,
                  query_vecs: list[tuple[int, list[float]]], k: int = 10,
                  vec_col: str = "embedding",
                  doc_filter: str | None = None) -> DataFrame:
    """Exact cosine top-k per query vector over the index's docs table.

    Returns (query_id, rank, doc_id, sim); rank by sim desc, doc_id asc.
    ``doc_filter``: optional SQL predicate over docs columns — restricts
    the candidate vectors (filter context), pushed into the docs scan.
    """
    kernel = _knn_kernel(query_vecs, k, vec_col)
    paths = IndexPaths(index_dir)
    docs = (spark.read.parquet(paths.docs)
            .filter(F.col(vec_col).isNotNull()))
    if doc_filter is not None:
        docs = docs.filter(doc_filter)
    docs = docs.select("doc_id", vec_col)
    per_part = docs.mapInPandas(
        kernel, schema="query_id int, doc_id long, sim double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("doc_id").asc())
    return (per_part.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id",
                    F.round("sim", 6).alias("sim")))


def knn_docs_topk_lsh(spark: SparkSession, index_dir: str,
                      query_vecs: list[tuple[int, list[float]]], k: int = 10,
                      vec_col: str = "embedding", n_planes: int = 8,
                      seed: int = 42,
                      doc_filter: str | None = None) -> DataFrame:
    """Approximate cosine top-k: exact re-rank restricted to docs sharing
    the query's hyperplane-LSH bucket (ops/similarity.lsh_topk pattern,
    external query vectors). The 100-TB vector side: candidate set shrinks
    ~2^-n_planes vs the full-scan GEMM of :func:`knn_docs_topk`.

    Same output schema/ordering as :func:`knn_docs_topk`; recall < 1 by
    construction (bucket boundary misses) — pick via ``vector_mode``.
    """
    from collections.abc import Iterator

    from .ops.similarity import hyperplane_buckets

    qm = np.stack([np.asarray(v, dtype=np.float64) for _q, v in query_vecs])
    qnorms = np.linalg.norm(qm, axis=1, keepdims=True)
    if not np.all(qnorms > 0):
        raise ValueError("zero-norm query vector")
    dim = qm.shape[1]
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))  # same as hyperplane_buckets
    signs = (qm @ planes.T) > 0
    q_buckets = (signs.astype(np.int64) <<
                 np.arange(n_planes, dtype=np.int64)).sum(axis=1)
    qn = {int(q): (qm[i] / qnorms[i, 0])
          for i, (q, _v) in enumerate(query_vecs)}
    bucket_rows = [(int(q), int(b))
                   for (q, _v), b in zip(query_vecs, q_buckets)]

    paths = IndexPaths(index_dir)
    docs = (spark.read.parquet(paths.docs)
            .filter(F.col(vec_col).isNotNull()))
    if doc_filter is not None:
        docs = docs.filter(doc_filter)
    docs = docs.select("doc_id", vec_col)
    # bucket emitted inline with the vector (carry_vec) — no docs⋈buckets
    # id-join, the only shuffle-free shape at 10^12-doc scale
    d_buckets = hyperplane_buckets(docs, n_planes=n_planes, seed=seed,
                                   id_col="doc_id", vec_col=vec_col, dim=dim,
                                   carry_vec=True)
    qb = spark.createDataFrame(bucket_rows, "query_id int, bucket long")
    cands = (d_buckets
             .join(F.broadcast(qb), "bucket")
             .select("query_id", "doc_id", vec_col))

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            m = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True),
                               1e-12)
            qmat = np.stack([qn[int(q)] for q in pdf["query_id"]])
            yield pd.DataFrame({
                "query_id": pdf["query_id"].to_numpy(np.int32),
                "doc_id": pdf["doc_id"].to_numpy(np.int64),
                "sim": (qmat * m).sum(axis=1),
            })

    scored = cands.mapInPandas(
        kernel, schema="query_id int, doc_id long, sim double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("doc_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id",
                    F.round("sim", 6).alias("sim")))


def rrf_fuse(bm25: DataFrame, knn: DataFrame, k: int = 10,
             k0: int = RRF_K0) -> DataFrame:
    """Reciprocal-rank fusion of two (query_id, rank, doc_id, ...) lists.

    fused = Σ_{lists containing doc} 1/(k0 + rank); top-k by fused desc,
    doc_id asc. Rounded to 6 dp BEFORE the final ranking so the order is
    reproducible bit-for-bit across engines.
    """
    a = bm25.select("query_id", "doc_id",
                    (F.lit(1.0) / (F.lit(k0) + F.col("rank"))).alias("c"))
    b = knn.select("query_id", "doc_id",
                   (F.lit(1.0) / (F.lit(k0) + F.col("rank"))).alias("c"))
    fused = (a.unionByName(b)
             .groupBy("query_id", "doc_id")
             .agg(F.round(F.sum("c"), 6).alias("rrf")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc())
    return (fused.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "rrf"))


def search_hybrid(spark: SparkSession, index_dir: str,
                  queries: list[tuple[int, str, list[float]]], k: int = 10,
                  depth: int = 20, k0: int = RRF_K0,
                  prune: bool = True,
                  vector_mode: str = "exact",
                  doc_filter: str | None = None,
                  field: str | None = None) -> DataFrame:
    """Hybrid top-k: (query_id, text, vector) → RRF(BM25 top-depth, kNN
    top-depth) → (query_id, rank, doc_id, rrf).

    The lexical side runs the native block-max BM25 engine; the vector
    side scans the docs table's embedding column. ``depth`` is the
    per-list candidate depth feeding the fusion (OpenSearch hybrid
    ``k``-per-subquery analogue). ``vector_mode='exact'`` is the full-scan
    GEMM baseline (oracle-checkable); ``'lsh'`` restricts the scan to the
    query's hyperplane bucket — the 10^12-doc scale path (approximate).
    ``doc_filter`` applies the same bool/filter context to BOTH sides
    (the reference attaches filters to every query type, hybrid included,
    opensearch_loader.py:873-884): candidates restricted, BM25 statistics
    stay corpus-global, fusion ranks computed over the filtered lists.
    ``field`` points the LEXICAL leg at an analyzed field's posting space
    (reference: hybrid over any schema field, opensearch_loader.py:
    386-408 + 873-884); the kNN leg always scans the root docs table
    (embeddings are per-document, not per-field), and a ``doc_filter``
    resolves against the root docs for both legs.

    Both legs run in the driver, with no Spark job, when the lexical leg
    fits :data:`~.query.DRIVER_POSTINGS_MAX` (see :mod:`.query`) and the
    kNN leg's N·dim does too (``vector_mode='exact'``, no
    ``doc_filter``, local docs): the same kNN kernel on the whole
    (doc_id, embedding) table, then the 4-dp re-rank and the fusion in
    pandas with Spark's rounding (:func:`spark_round`).
    """
    if vector_mode not in ("exact", "lsh"):
        raise ValueError(f"vector_mode must be exact|lsh, got {vector_mode!r}")
    # fetch a small buffer past depth, then re-rank the engine's exact
    # scores on ROUNDED values and cut at depth — fusion ranks are then
    # reproducible against an external oracle even when full-precision
    # and rounded orderings disagree at the depth boundary
    if field in (None, "current", "text"):
        bm_root, bm_froot = index_dir, None
    else:
        from .fields import field_root

        bm_root, bm_froot = field_root(index_dir, field), index_dir
    vecs = [(q, v) for q, _t, v in queries]
    bm = search_top_k(spark, bm_root, [(q, t) for q, t, _v in queries],
                      k=depth + 5, prune=prune, doc_filter=doc_filter,
                      filter_root=bm_froot)
    if (isinstance(bm, pd.DataFrame) and vector_mode == "exact"
            and doc_filter is None and _knn_fits(spark, index_dir, vecs)):
        return local_frame(spark, _fuse_local(
            bm, _knn_local(spark, index_dir, vecs, depth), k, depth, k0),
            score="rrf")
    knn_fn = knn_docs_topk if vector_mode == "exact" else knn_docs_topk_lsh
    knn = knn_fn(spark, index_dir, vecs, k=depth, doc_filter=doc_filter)
    return _fuse(as_frame(spark, bm), knn, k, depth, k0)


def _fuse(bm: DataFrame, knn: DataFrame, k: int, depth: int,
          k0: int) -> DataFrame:
    """BM25 top-(depth+5) re-ranked on 4-dp scores and cut at ``depth``,
    fused with the kNN list by :func:`rrf_fuse`."""
    wb = Window.partitionBy("query_id").orderBy(
        F.round("score", 4).desc(), F.col("doc_id").asc())
    bm = (bm.withColumn("rank", F.row_number().over(wb))
          .filter(F.col("rank") <= depth)
          .select("query_id", "rank", "doc_id"))
    return rrf_fuse(bm, knn.select("query_id", "rank", "doc_id"), k=k, k0=k0)


def _knn_fits(spark: SparkSession, index_dir: str, query_vecs) -> bool:
    """The kNN leg's driver budget: N docs × dim floats, against the
    same constant as the postings. It is the conservative side: one
    16-d query over 4 docs files on a 4-CPU box took 77 ms in the driver
    against 812 ms distributed at N·dim = 400k, and 217 against 712 ms
    at 1.6M."""
    from . import query

    dim = len(query_vecs[0][1]) if query_vecs else 0
    return (is_local(spark, IndexPaths(index_dir).docs)
            and load_stats(spark, index_dir).N * dim
            <= query.DRIVER_POSTINGS_MAX)


def _knn_local(spark: SparkSession, index_dir: str, query_vecs,
               depth: int, vec_col: str = "embedding") -> pd.DataFrame:
    """:func:`knn_docs_topk` in the driver: (doc_id, ``vec_col``) of every
    docs file read with pyarrow, the kNN kernel on the whole table."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    kernel = _knn_kernel(query_vecs, depth, vec_col)
    fs, infos = list_parquet_files(spark, IndexPaths(index_dir).docs)
    parts = []
    if infos:
        tbl = pq.read_table([f.path for f in infos], filesystem=fs,
                            columns=["doc_id", vec_col])
        tbl = tbl.filter(pc.is_valid(tbl[vec_col]))
        parts = list(kernel(iter([tbl.to_pandas()])))
    return merge_top_k(parts, depth, score="sim")


def spark_round(x, dp: int) -> np.ndarray:
    """``F.round(x, dp)`` on doubles, in the driver. Spark rounds HALF_UP
    on the value's decimal string (``java.math.BigDecimal.valueOf``);
    Python's ``round`` rounds the binary value half-to-even, so
    ``round(2.675, 2) == 2.67`` where Spark gives 2.68. ``repr`` gives
    the shortest round-tripping string, which is Java's
    ``Double.toString`` up to the rare non-shortest outputs of JDKs
    before 19."""
    import math
    from decimal import ROUND_HALF_UP, Context, Decimal

    ctx = Context(prec=800)
    q = Decimal(1).scaleb(-dp)
    return np.array(
        [float(Decimal(repr(v)).quantize(q, ROUND_HALF_UP, ctx))
         if math.isfinite(v) else v for v in map(float, x)],
        dtype=np.float64)


def _fuse_local(bm: pd.DataFrame, knn: pd.DataFrame, k: int, depth: int,
                k0: int) -> pd.DataFrame:
    """:func:`_fuse` in pandas."""
    bm = merge_top_k([bm.assign(score=spark_round(bm["score"], 4))[
        ["query_id", "doc_id", "score"]]], depth)

    def contrib(df):
        return df[["query_id", "doc_id"]].assign(
            c=1.0 / (k0 + df["rank"].to_numpy(np.int64)))

    fused = contrib(bm).merge(contrib(knn), how="outer",
                              on=["query_id", "doc_id"])
    # one contribution per list, a missing one adds 0.0 — the same
    # IEEE sum as Spark's two-row F.sum (addition is commutative)
    rrf = fused["c_x"].fillna(0.0) + fused["c_y"].fillna(0.0)
    return merge_top_k([fused[["query_id", "doc_id"]].assign(
        rrf=spark_round(rrf, 6))], k, score="rrf")
