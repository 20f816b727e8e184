"""SPIMI index build (SURVEY.md A10/A11, S12/S13, §3.3 restatement).

Replaces the Lucene segment build that sat behind the reference's bulk
index sink (opensearch_loader.py:372-384) with a document-range-sharded
inverted index:

1. **Deterministic dense doc_ids** — global rank over sorted ``url``
   (mirrors the reference's sorted-glob determinism, uploader.py:246;
   required for rank-identical tie-breaks). Implemented scale-correctly as
   range-repartition + per-partition offsets (zipWithIndex pattern), NOT a
   single-partition global window.
2. **Fixed-width doc ranges** — ``range_id = doc_id // docs_per_range``.
   Ranges are a pure function of doc_id (no sampled boundaries), which is
   what makes the build *resumable*: a restart recomputes identical ranges
   and anti-joins the manifest for pending ones.
3. **SPIMI per range** (``mapInPandas``): tokenize (frozen analyzer),
   accumulate (term, doc_id) → tf with pandas groupby, sort by
   (term, doc_id), delta+varint encode per-term runs with block-max
   metadata. Because each document lives in exactly one range, per-term
   runs across ranges are disjoint — the global index is the *union* of
   range outputs and needs **no posting-merge shuffle at all**; the only
   wide operations are the range repartition (by doc_id, balanced, never
   skewed regardless of Zipfian term skew) and the tiny dictionary
   aggregate (map-side combined sum — associative, skew-immune).
4. **Term-bucket ordering** — each postings file is sorted by
   ``(bucket = crc32(term) % n_buckets, term)``, so query-time term
   lookups prune row groups on parquet min/max stats.
5. **Manifest + lineage** per range (the archive-sink analogue,
   opensearch_loader.py:608-702): docs, terms, bytes, wall-clock,
   analyzer version, commit timestamp.
"""

from __future__ import annotations

import functools
import time
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import ANALYZER_VERSION, BM25_B, BM25_K1
from .analyzer import tokenize_arrow_batch
from .codec import encode_postings_batch

DEFAULT_BUCKETS = 16

# derived-tables epilogue fast path: at or below this many DOCS the fused
# dictionary+manifest result collects to the driver (one parallel job)
# instead of two distributed writes; above it (web-scale vocabularies) the
# Spark writers run. Doc count is the guard because it is known BEFORE the
# aggregation — a row-count probe would need its own job, and a LIMIT
# probe funnels through a single-task CollectLimit exchange.
SMALL_DERIVED_DOCS_MAX = 200_000


def bucket_of(term: str, n_buckets: int = DEFAULT_BUCKETS) -> int:
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def _partition_offsets(ranged: DataFrame) -> tuple[dict[int, int], int]:
    """First doc_id of every ``_pid`` partition (one tiny count job),
    and the total row count."""
    counts = {r["_pid"]: r["cnt"] for r in
              ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    return offsets, acc


def assign_doc_ids(docs_df: DataFrame, partitions: int = 32,
                   with_range_id: bool = False) -> DataFrame:
    """docs(url, ...) → +doc_id: dense global rank by url
    (+``range_id`` = the url-range partition id when requested).

    zipWithIndex pattern: range-repartition by url, sort within partitions,
    count per partition (one tiny job), then offset-add per partition.
    Avoids the single-partition bottleneck of a global window while
    producing the identical deterministic ordering.

    With ``with_range_id`` the partition id doubles as the SPIMI doc-range
    id: each range is a contiguous doc_id span fully contained in one
    partition — the property that lets :func:`build_postings` run with NO
    shuffle at all (the docs files written from these partitions are
    range-aligned).
    """
    ranged = (docs_df
              .repartitionByRange(partitions, "url")
              .sortWithinPartitions("url")
              .withColumn("_pid", F.spark_partition_id()))
    ranged = ranged.persist()
    offsets, _n = _partition_offsets(ranged)

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in docs_df.schema.fields
    ) + ", doc_id long" + (", range_id int" if with_range_id else "")

    def add_ids(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen = 0
        for pdf in it:
            if len(pdf) == 0:
                continue
            pid = int(pdf["_pid"].iloc[0])
            base = offsets[pid] + seen
            seen += len(pdf)
            out = pdf.drop(columns=["_pid"])
            out["doc_id"] = np.arange(base, base + len(pdf), dtype=np.int64)
            if with_range_id:
                out["range_id"] = np.full(len(pdf), pid, dtype=np.int32)
            yield out

    result = ranged.mapInPandas(add_ids, schema=out_schema)
    # callers unpersist this after materializing `result` (repeated builds
    # in one session must not accumulate cached partitions)
    result._persisted_input = ranged
    return result


def _spimi_batches():
    """SPIMI kernel factory: per-Spark-partition posting-run builder.

    Ranges come from the input's ``range_id`` column (assigned once at
    prepare time) — a partition may hold SEVERAL whole ranges (packed
    files); the (term, range) grouping below keeps their outputs disjoint.
    """

    def spimi(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t0 = time.monotonic()
        # Arrow-C++ tokenization per batch (no per-token Python objects);
        # batch-local term codes are merged into partition-global codes via
        # one factorize over the (small) per-batch dictionaries
        parts = []           # (codes_local, doc_ids, dls, pos, ranges)
        dicts = []           # per-batch uniq term arrays
        for pdf in it:
            if len(pdf) == 0:
                continue
            tk = tokenize_arrow_batch(pdf["text"])
            if tk["codes"].size == 0:
                continue
            did = pdf["doc_id"].to_numpy(np.int64)
            rng = pdf["range_id"].to_numpy(np.int32)
            parts.append((tk["codes"], did[tk["doc_idx"]],
                          tk["dl"][tk["doc_idx"]], tk["pos"],
                          rng[tk["doc_idx"]]))
            dicts.append(tk["uniq"])
        if not parts:
            return
        all_uniq = np.concatenate(dicts)
        gcodes_of_dict, uniq_terms = pd.factorize(all_uniq, sort=False)
        gcodes_of_dict = gcodes_of_dict.astype(np.int64)
        codes_list = []
        off = 0
        for (codes_local, _d, _l, _p, _r), u in zip(parts, dicts):
            codes_list.append(gcodes_of_dict[off + codes_local])
            off += u.size
        codes = np.concatenate(codes_list)
        doc_ids = np.concatenate([p[1] for p in parts])
        dls = np.concatenate([p[2] for p in parts])
        pos = np.concatenate([p[3] for p in parts])
        range_col = np.concatenate([p[4] for p in parts])
        # single fused uint64 key sort (code | local_doc | pos) — ~2×
        # faster than the 3-key lexsort and (code, doc, pos) is unique so
        # an unstable sort is fine; falls back to lexsort when the
        # cardinalities can't pack into 64 bits
        dmin = doc_ids.min()
        local = (doc_ids - dmin).astype(np.uint64)
        pos_bits = max(int(pos.max()).bit_length(), 1)
        doc_bits = max(int(local.max()).bit_length(), 1)
        code_bits = int(codes.max()).bit_length() if codes.size else 1
        if pos_bits + doc_bits + code_bits <= 64:
            key = ((codes.astype(np.uint64) << (pos_bits + doc_bits)) |
                   (local << np.uint64(pos_bits)) | pos.astype(np.uint64))
            order = np.argsort(key)
        else:
            order = np.lexsort((pos, doc_ids, codes))
        codes, doc_ids, dls, pos = (codes[order], doc_ids[order],
                                    dls[order], pos[order])
        range_ids = range_col[order]
        # posting runs: adjacent (code, doc) equal
        chg = np.empty(codes.size, dtype=bool)
        chg[0] = True
        chg[1:] = (codes[1:] != codes[:-1]) | (doc_ids[1:] != doc_ids[:-1])
        run_starts = np.flatnonzero(chg)
        run_ends = np.append(run_starts[1:], codes.size)
        run_tf = run_ends - run_starts
        run_doc = doc_ids[run_starts]
        run_dl = dls[run_starts]
        run_code = codes[run_starts]
        run_range = range_ids[run_starts]
        # groups: adjacent (code, range) equal over runs
        gchg = np.empty(run_code.size, dtype=bool)
        gchg[0] = True
        gchg[1:] = ((run_code[1:] != run_code[:-1]) |
                    (run_range[1:] != run_range[:-1]))
        g_starts = np.flatnonzero(gchg)
        g_ends = np.append(g_starts[1:], run_code.size)
        enc = encode_postings_batch(run_doc, run_tf, run_dl, pos, run_starts,
                                    g_starts, g_ends)
        out = pd.DataFrame({
            "term": uniq_terms[run_code[g_starts]],
            "range_id": run_range[g_starts].astype(np.int32),
            "first_doc_id": enc["first_doc"],
            "n": enc["n"],
            "cf": enc["cf"],
            "doc_ids": enc["doc_ids"],
            "tfs": enc["tfs"],
            "dls": enc["dls"],
            "poss": enc["poss"],
            "block_max_tf": enc["block_max_tf"],
            "block_min_dl": enc["block_min_dl"],
            "max_tf": enc["max_tf"],
        })
        # payload size precomputed so the manifest aggregate never has to
        # re-read the binary columns (metadata-only derived-table pass)
        out["n_bytes"] = (out["doc_ids"].str.len() + out["tfs"].str.len()
                          + out["dls"].str.len()).astype("int64")
        out["wall_ms"] = int((time.monotonic() - t0) * 1000)
        yield out

    return spimi


def qualify(spark: SparkSession, path: str) -> str:
    """``path`` as a URI, qualified by Hadoop exactly as Spark's own
    readers and writers qualify it.

    A scheme-less path is NOT inherently local: Hadoop resolves it
    against ``fs.defaultFS`` (e.g. HDFS on a real cluster) and a
    relative one against that filesystem's working directory, so every
    pyarrow read or write of an index table goes through this one
    resolver and ``pyarrow.fs.FileSystem.from_uri`` on its result. The
    URI is percent-escaped; pass it to pyarrow, not back in here.
    Memoized per SparkContext: one resolution costs ~10 py4j round
    trips (~10 ms on a 4-CPU box), and every query asks for its tables.
    """
    return _qualify(spark.sparkContext, path)


@functools.lru_cache(maxsize=4096)
def _qualify(sc, path: str) -> str:
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
    return str(fs.makeQualified(p).toUri().toString())


def is_local(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` resolves to the local filesystem."""
    return qualify(spark, path).startswith("file:")


def _open_fs(spark: SparkSession, path: str):
    """(pyarrow filesystem, filesystem path) for an index path."""
    import pyarrow.fs as pafs

    return pafs.FileSystem.from_uri(qualify(spark, path))


def _rm_dir(fs, path: str) -> None:
    import pyarrow.fs as pafs

    if fs.get_file_info(path).type != pafs.FileType.NotFound:
        fs.delete_dir(path)


def list_dir(spark: SparkSession, path: str):
    """(filesystem, entries) of one directory, hidden (``_``/``.``)
    entries excluded — the names Spark's parquet reader would see. A
    missing directory lists as empty."""
    import pyarrow.fs as pafs

    fs, p = _open_fs(spark, path)
    infos = fs.get_file_info(pafs.FileSelector(p, allow_not_found=True))
    return fs, sorted((i for i in infos
                       if not i.base_name.startswith(("_", "."))),
                      key=lambda i: i.base_name)


def list_parquet_files(spark: SparkSession, path: str):
    """(filesystem, data-file infos) of one parquet directory."""
    import pyarrow.fs as pafs

    fs, infos = list_dir(spark, path)
    return fs, [i for i in infos if i.type == pafs.FileType.File]


def write_small_table(spark: SparkSession, pdf: pd.DataFrame,
                      path: str) -> None:
    """Overwrite a tiny driver-side table (stats, docs_meta — one to a
    few rows) with a direct pyarrow write: a full Spark job for a 1-row
    parquet is pure scheduling overhead (~0.3 s) that shows up as SERIAL
    epilogue in the build's scaling profile. The file is written to a
    staging directory first and then moved on its own: object stores
    (S3) move files, not directories."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fs, p = _open_fs(spark, path)
    staging = p + ".staging_small"
    part = "part-00000.parquet"
    _rm_dir(fs, staging)
    fs.create_dir(staging)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   f"{staging}/{part}", filesystem=fs)
    _rm_dir(fs, p)
    fs.create_dir(p)
    fs.move(f"{staging}/{part}", f"{p}/{part}")
    fs.delete_dir(staging)


def read_small_table(spark: SparkSession, path: str) -> pd.DataFrame:
    """Driver-side read of a tiny table (pyarrow — no Spark job)."""
    fs, p = _open_fs(spark, path)
    return pd.read_parquet(p, filesystem=fs)


def file_aligned_session(spark: SparkSession) -> SparkSession:
    """A child session whose parquet reads give ONE partition per file:
    no file is split by row group and no two files are packed together.
    A table rewritten through it keeps every range whole in one file,
    as :func:`write_postings` requires, whatever the file sizes. The
    conf lives in the child, so the caller's session, and any read
    running concurrently in it, keeps its own."""
    s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 40))
    s.conf.set("spark.sql.files.openCostInBytes", str(1 << 40))
    return s


class IndexPaths:
    def __init__(self, root: str):
        self.root = root
        self.docs = f"{root}/docs"
        self.postings = f"{root}/postings"
        self.dictionary = f"{root}/dictionary"
        self.doc_stats = f"{root}/doc_stats"
        self.docs_meta = f"{root}/docs_meta"
        self.stats = f"{root}/stats"
        self.manifest = f"{root}/manifest"


def prepare_docs(spark: SparkSession, docs_df: DataFrame, out_dir: str,
                 id_partitions: int = 32) -> IndexPaths:
    """Phase A: deterministic doc_ids + dl → write the ``docs`` table.

    Separated from :func:`build_postings` so the indexing job proper can be
    rerun/benchmarked/resumed against a fixed docs table (and at real scale
    the extract+prepare pass is I/O-bound while indexing is CPU-bound —
    different cluster shapes).

    FUSED write (guide §4.1/§2.4): the id-assign ``mapInPandas`` computes
    ``dl`` itself (one Arrow tokenize per batch) instead of a second
    ``token_count_udf`` ArrowEvalPython node — the text column crosses
    the JVM↔Python boundary ONCE, not twice. With a driver-sized
    corpus each task additionally side-writes its partition's
    ``doc_stats`` (doc_id, dl) file with pyarrow (deterministic
    per-partition names — retries overwrite idempotently, the
    :func:`write_postings` pattern) and the N/sum_dl meta comes from one
    driver-side read — the separate doc_stats-write and aggregate Spark
    jobs disappear (3 jobs instead of 5 per build). Web-scale corpora
    keep the distributed writes."""
    import pyarrow.fs as pafs

    paths = IndexPaths(out_dir)
    ranged = (docs_df
              .repartitionByRange(id_partitions, "url")
              .sortWithinPartitions("url")
              .withColumn("_pid", F.spark_partition_id()))
    ranged = ranged.persist()
    try:
        offsets, N = _partition_offsets(ranged)
        local_stats = N <= SMALL_DERIVED_DOCS_MAX
        stats_uri = qualify(spark, paths.doc_stats)
        if local_stats:
            fs, stats_dir = pafs.FileSystem.from_uri(stats_uri)
            _rm_dir(fs, stats_dir)
            fs.create_dir(stats_dir)

        out_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in docs_df.schema.fields
        ) + ", doc_id long, range_id int, dl int"

        def add_ids(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import pyarrow as pa
            import pyarrow.fs as pafs
            import pyarrow.parquet as pq

            pa.set_cpu_count(1)
            pa.set_io_thread_count(1)
            seen = 0
            pid = None
            stat_chunks: list[pd.DataFrame] = []
            for pdf in it:
                if len(pdf) == 0:
                    continue
                pid = int(pdf["_pid"].iloc[0])
                base = offsets[pid] + seen
                seen += len(pdf)
                out = pdf.drop(columns=["_pid"])
                ids = np.arange(base, base + len(pdf), dtype=np.int64)
                out["doc_id"] = ids
                out["range_id"] = np.full(len(pdf), pid, dtype=np.int32)
                # dl computed HERE (same Arrow kernel as token_count_udf)
                # instead of a second Python crossing of the text column
                dl = tokenize_arrow_batch(pdf["text"])["dl"].astype("int32")
                out["dl"] = dl
                if local_stats:
                    stat_chunks.append(pd.DataFrame(
                        {"doc_id": ids, "dl": dl}))
                yield out
            if local_stats and stat_chunks:
                st = pd.concat(stat_chunks, ignore_index=True)
                sfs, sdir = pafs.FileSystem.from_uri(stats_uri)
                pq.write_table(
                    pa.Table.from_pandas(st, preserve_index=False),
                    f"{sdir}/part-r{pid:05d}.parquet", filesystem=sfs)

        # one file per id-partition → each docs file holds exactly one doc
        # range; build_postings exploits this to run with ZERO shuffle
        docs = ranged.mapInPandas(add_ids, schema=out_schema)
        docs.write.mode("overwrite").parquet(paths.docs)
    finally:
        # unpersist even when the write fails: repeated builds in one
        # session must not accumulate cached partitions
        ranged.unpersist()
    # docs-derived tables belong to phase A: they never change during the
    # indexing job, so the job itself doesn't pay for them (and doesn't
    # rescan docs for N/avgdl — docs_meta is a one-row point read)
    if not local_stats:
        (spark.read.parquet(paths.docs).select("doc_id", "dl")
         .write.mode("overwrite").parquet(paths.doc_stats))
        write_docs_meta(spark, paths)
        return paths
    try:
        st = pd.read_parquet(stats_dir, columns=["dl"], filesystem=fs)
        sum_dl = int(st["dl"].sum())
    except Exception:  # empty corpus: no side-written files
        write_small_table(spark, pd.DataFrame(
            {"doc_id": pd.Series(dtype="int64"),
             "dl": pd.Series(dtype="int32")}), paths.doc_stats)
        sum_dl = 0
    meta = pd.DataFrame([{"N": N, "sum_dl": sum_dl,
                          "avgdl": (sum_dl / N) if N else 0.0}])
    write_small_table(spark, meta, paths.docs_meta)
    return paths


@functools.cache
def _postings_arrow_schema():
    """pyarrow schema of every postings file (parquet column resolution
    is by name + type per file, so all files must agree field-for-field
    with the footers of indexes already on disk)."""
    import pyarrow as pa

    return pa.schema([
        ("term", pa.string()), ("range_id", pa.int32()),
        ("first_doc_id", pa.int64()), ("n", pa.int64()),
        ("cf", pa.int64()), ("doc_ids", pa.binary()),
        ("tfs", pa.binary()), ("dls", pa.binary()),
        ("poss", pa.binary()), ("block_max_tf", pa.binary()),
        ("block_min_dl", pa.binary()), ("max_tf", pa.int64()),
        ("n_bytes", pa.int64()), ("wall_ms", pa.int64()),
        ("bucket", pa.int32()),
    ])


def _write_postings_file(tbl, fs, path: str) -> None:
    """One postings parquet file. Dictionary encoding only where values
    repeat: terms are unique per file and dls/poss payloads nearly so,
    and dictionary pages for them cost ~6% of the file (the choice
    Spark's writer makes by falling back to plain)."""
    import pyarrow.parquet as pq

    pq.write_table(tbl, path, filesystem=fs, compression="snappy",
                   use_dictionary=[c for c in tbl.column_names
                                   if c not in ("term", "dls", "poss")])


class LegacyLayoutError(ValueError):
    """An index in a layout this engine no longer writes."""


def require_current_layout(spark: SparkSession, paths: IndexPaths) -> None:
    """Refuse the legacy layouts before a mutation writes anything: docs
    without a stored ``range_id`` column, and postings under ``bucket=N/``
    subdirectories. :func:`~.maintenance.reindex` reads either and
    writes a current index."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    hint = (f"rebuild it with maintenance.reindex(spark, {paths.root!r}, "
            "<new root>)")
    fs, docs = list_parquet_files(spark, paths.docs)
    if docs and "range_id" not in pq.read_schema(
            docs[0].path, filesystem=fs).names:
        raise LegacyLayoutError(
            f"legacy index layout at {paths.root}: docs table has no "
            f"range_id column; {hint}")
    _fs, entries = list_dir(spark, paths.postings)
    if any(e.type == pafs.FileType.Directory
           and e.base_name.startswith("bucket=") for e in entries):
        raise LegacyLayoutError(
            f"legacy index layout at {paths.root}: postings are "
            f"partitioned into bucket=N/ directories; {hint}")


def lpt_bins(items, n_bins: int) -> list[list]:
    """``items`` ((key, size) pairs) packed largest-first into ``n_bins``
    bins of keys, each to the least-loaded bin (LPT, ≤4/3·OPT), the
    fullest bin first."""
    bins: list[list] = [[] for _ in range(n_bins)]
    loads = [0] * n_bins
    for key, size in sorted(items, key=lambda t: -t[1]):
        i = loads.index(min(loads))
        bins[i].append(key)
        loads[i] += size
    order = sorted(range(n_bins), key=lambda i: -loads[i])
    return [bins[i] for i in order]


def range_span(fs, path: str) -> tuple[int, int] | None:
    """(min, max) ``range_id`` of one parquet file from its footer;
    None for an empty file, (-inf, inf) when stats are missing."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path, filesystem=fs)
    if md.num_rows == 0:
        return None
    col = md.schema.to_arrow_schema().names.index("range_id")
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(col).statistics
        if st is None or not st.has_min_max:
            return (-(1 << 62), 1 << 62)
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return (lo, hi)


def write_postings(spark: SparkSession, docs_dir: str, postings_dir: str,
                   n_buckets: int, *, mode: str = "overwrite",
                   ranges: set[int] | None = None,
                   skip: set[int] | None = None,
                   carry_from: str | None = None,
                   collect_meta: bool = False) -> pd.DataFrame | None:
    """The one postings writer of build, resume, append, delete and
    merge: builds the ranges in ``ranges`` (None = all) minus ``skip``.

    Spark schedules LPT bins of files; each task reads its docs files
    with pyarrow, runs the :func:`_spimi_batches` kernel and writes
    postings with pyarrow, so document bytes never cross the JVM↔Python
    Arrow socket (the boundary cost *Accelerating Python UDFs in
    Vectorized Query Execution* isolates). All I/O goes through
    ``pyarrow.fs`` on paths resolved by :func:`qualify`.

    Why: the measured single-machine envelope (BENCH.md §6, round-5
    diagnosis) shows the pure kernel scaling 1→4 cores at ~0.86 — like
    the Spark-free pool control — while the JVM scan→Arrow→socket
    transfer scales at ~0.60 and the Arrow-return→JVM-sort→write path at
    ~0.62: the boundary crossings double memory traffic and hit the
    shared-bandwidth wall first. Removing them makes the Spark stage the
    pool control plus a scheduler. At cluster scale the same holds per
    executor (Arrow IPC is intra-node but still 2× the bytes).

    Docs files are picked from their footer ``range_id`` stats. Each
    built range must sit whole in ONE docs file (its postings rows are
    emitted once); a range spread over two files raises.

    ``carry_from`` is a postings directory whose rows of the OTHER
    ranges carry over: a file holding none of the built ranges is
    copied (left alone when it is ``postings_dir`` itself — resume),
    any other file is rewritten without those ranges' rows. Snapshots
    carry from their source index; resume carries in place, which also
    drops rows a crashed build wrote before its manifest commit.

    Each built range gets one file, ``part-pyio-r<r>-<r>``; a rewritten
    carry file is named by its remaining ranges plus the crc32 of its
    source name. Names are deterministic, so a retried task overwrites
    its own files. ``overwrite`` clears ``postings_dir`` first.

    ``collect_meta=True`` (small full builds): each task also writes
    the two derived-tables grouping-set partials of what it built — the
    manifest row of every range (complete: a range never spans files)
    and per-term (df, cf) partial sums — under ``_partials/`` and the
    collected partials are returned for :func:`refresh_derived_tables`
    to finish with a pandas groupby, so the build is ONE Spark job: the
    epilogue's separate scan+aggregate job (the serial Amdahl term of
    whole-job scaling) disappears. The partials are bounded by Σ
    per-file vocabulary, which the SMALL_DERIVED_DOCS_MAX guard keeps
    driver-sized; web-scale builds keep the distributed epilogue.
    """
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    docs_uri = qualify(spark, docs_dir)
    post_uri = qualify(spark, postings_dir)
    carry_uri = qualify(spark, carry_from) if carry_from else None
    in_place = carry_uri == post_uri
    pfs, post = pafs.FileSystem.from_uri(post_uri)
    if mode == "overwrite" and not in_place:
        _rm_dir(pfs, post)
    pfs.create_dir(post)
    # derived-table partials return via SIDE FILES under _partials/ (a
    # "_"-prefixed dir is invisible to both the Spark reader and the
    # pyarrow listers): the Arrow collect of bins×vocab partial rows
    # through mapInPandas→toPandas cost ~0.1-0.3 s of pure serial driver
    # time per build; a pyarrow write per task + ONE driver read
    # replaces it and the job's action shrinks to one ack row per task
    partials_dir = f"{post}/_partials"
    _rm_dir(pfs, partials_dir)
    if collect_meta:
        pfs.create_dir(partials_dir)
    want = None if ranges is None else sorted(int(r) for r in ranges)
    skip = sorted(int(r) for r in (skip or ()))

    def built_mask(rid: np.ndarray) -> np.ndarray:
        m = np.ones(rid.size, dtype=bool) if want is None \
            else np.isin(rid, want)
        return m & ~np.isin(rid, skip) if skip else m

    def wants(lo: int, hi: int) -> bool:
        if want is None:
            return hi - lo + 1 > sum(lo <= r <= hi for r in skip)
        return any(lo <= r <= hi and r not in skip for r in want)

    dfs, doc_infos = list_parquet_files(spark, docs_dir)
    spans = {i.base_name: range_span(dfs, i.path) for i in doc_infos}
    items = [("build", i.base_name, i.size) for i in doc_infos
             if spans[i.base_name] and wants(*spans[i.base_name])]
    picked = sorted(spans[n] for _k, n, _s in items)
    if any(b[0] <= a[1] for a, b in zip(picked, picked[1:])):
        # footer intervals overlap (e.g. a packed snapshot write):
        # settle ownership from the range_id column itself
        owner: dict[int, str] = {}
        built = {n for _k, n, _s in items}
        for i in (i for i in doc_infos if i.base_name in built):
            rids = np.unique(pq.read_table(i.path, filesystem=dfs,
                                           columns=["range_id"])
                             .column(0).to_numpy())
            for r in rids[built_mask(rids)].tolist():
                if owner.setdefault(r, i.base_name) != i.base_name:
                    raise ValueError(
                        f"range {r} spans docs files {owner[r]} and "
                        f"{i.base_name}: the postings writer needs each "
                        "range whole in one file")
    nb = int(n_buckets)
    spimi = _spimi_batches()

    def task(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa
        import pyarrow.fs as pafs

        # one C++ thread per task: Arrow's pool defaults to ALL host
        # CPUs PER PROCESS, so N concurrent tasks would run N×cpus
        # threads — oversubscription that erases the scaling win.
        # Parallelism here comes from Spark's task slots, not Arrow.
        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
        dst_fs, dst = pafs.FileSystem.from_uri(post_uri)
        src_fs, src = pafs.FileSystem.from_uri(docs_uri)
        if carry_uri:
            old_fs, old = pafs.FileSystem.from_uri(carry_uri)
        partials: list[pd.DataFrame] = []
        for fdf in it:
            for b in fdf["bin"]:  # one bin per task
                for kind, name in bins[int(b)]:
                    if kind == "carry":
                        _carry(old_fs, f"{old}/{name}", dst_fs, dst, name)
                        continue
                    dpdf = pq.read_table(
                        f"{src}/{name}", filesystem=src_fs,
                        columns=["doc_id", "text", "range_id"],
                        use_threads=False).to_pandas()
                    dpdf = dpdf[built_mask(dpdf["range_id"].to_numpy())]
                    out = _build_file(dpdf, dst_fs, dst)
                    if collect_meta and out is not None:
                        # retain ONLY the metadata columns per file; the
                        # partial aggregation runs once per TASK below
                        # (the per-file pandas groupbys measured ~25 ms
                        # each — 0.8 s of serialized overhead across a
                        # 32-file build)
                        partials.append(out[["term", "range_id", "n", "cf",
                                             "n_bytes", "wall_ms"]])
        if collect_meta and partials:
            _write_partials(pd.concat(partials, ignore_index=True), dst_fs,
                            f"{dst}/_partials/part-b{int(b):05d}.parquet")
        yield pd.DataFrame({"ok": [1]})

    def _build_file(dpdf, fs, dst):
        import pyarrow as pa

        outs = list(spimi(iter([dpdf]))) if len(dpdf) else []
        if not outs:
            return None
        out = pd.concat(outs, ignore_index=True)
        uniq, inv = np.unique(out["term"].to_numpy(str), return_inverse=True)
        b_u = np.fromiter((zlib.crc32(t.encode("utf-8")) % nb for t in uniq),
                          dtype=np.int32, count=uniq.size)
        out["bucket"] = b_u[inv]
        out["range_id"] = out["range_id"].astype("int32")
        out = out.sort_values(["range_id", "bucket", "term"],
                              kind="mergesort", ignore_index=True)
        # one file per range: footer range_id intervals never overlap,
        # whatever ranges a docs file or a carried file holds
        rids = out["range_id"].to_numpy()
        cuts = np.flatnonzero(np.diff(rids)) + 1
        for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, rids.size]):
            _write_postings_file(
                pa.Table.from_pandas(out.iloc[lo:hi],
                                     schema=_postings_arrow_schema(),
                                     preserve_index=False), fs,
                f"{dst}/part-pyio-r{int(rids[lo]):05d}-{int(rids[lo]):05d}"
                ".parquet")
        return out

    def _carry(old_fs, src_path, fs, dst, name):
        import pyarrow as pa
        import pyarrow.fs as pafs

        rid = pq.read_table(src_path, filesystem=old_fs,
                            columns=["range_id"]).column(0).to_numpy()
        drop = built_mask(rid)
        if not drop.any():
            if not in_place:
                pafs.copy_files(src_path, f"{dst}/{name}",
                                source_filesystem=old_fs,
                                destination_filesystem=fs)
            return
        kept = pq.read_table(src_path, filesystem=old_fs).filter(
            pa.array(~drop))
        if kept.num_rows:
            k = rid[~drop]
            _write_postings_file(
                kept, fs, f"{dst}/part-pyio-r{int(k.min()):05d}-"
                f"{int(k.max()):05d}-{zlib.crc32(name.encode()):08x}"
                ".parquet")
        if in_place:
            old_fs.delete_file(src_path)

    if carry_uri:
        cfs, carry_infos = list_parquet_files(spark, carry_from)
        for i in carry_infos:
            span = range_span(cfs, i.path)
            if span is None or (in_place and not wants(*span)):
                continue
            if in_place:
                # before the job: a built file may take the name of a
                # crashed run's file that still has to be filtered
                _carry(cfs, i.path, pfs, post, i.base_name)
            else:
                items.append(("carry", i.base_name, i.size))

    # task granularity: ONE wave of slots. Each mapInPandas task costs a
    # fixed JVM↔worker turnaround (~140 ms measured on a 4-CPU box —
    # socket-heavy task protocol), so one-file-per-task serializes
    # len(files) of that overhead through the scheduler when files
    # outnumber slots — pack files into min(len(files), slots) bins,
    # largest-first (LPT, ≤4/3·OPT imbalance): the per-task constant is
    # paid once per slot and there is no wave-boundary barrier (a
    # 2·slots granularity cost an extra ~0.2 s at the scaling bench's
    # local[4] level for no measurable balance win on near-uniform
    # range files). On a real cluster slots ≫ files keeps one file per
    # task.
    slots = max(1, spark.sparkContext.defaultParallelism)
    n_bins = max(1, min(len(items), slots))
    bins = lpt_bins([((k, n), s) for k, n, s in items], n_bins)
    # bin ids distributed via spark.range (one id per partition, pure
    # JVM): a parallelize(...).flatMap chain would evaluate a pickled
    # Python RDD under the mapInPandas stage, and the FIRST such chain
    # in a JVM pays ~1s of plain-pickle worker/serializer init that the
    # Arrow runner warm-up never touches (measured: first-job task lag
    # 1.21s vs 0.20s warm) — a pure constant inside the timed build.
    # The bins list rides in the task closure.
    # action = collect() of the n_bins one-row acks, NOT count(): count
    # adds a partial/final aggregate pair whose one-row exchange AQE
    # materializes as an extra query stage — measured ~80 ms of pure
    # scheduling per job; collect is a single stage
    if items:
        (spark.range(0, n_bins, 1, numPartitions=n_bins)
         .withColumnRenamed("id", "bin")
         .mapInPandas(task, schema="ok long")
         .collect())
    if not collect_meta:
        return None
    pinfos = list_parquet_files(spark, f"{postings_dir}/_partials")[1]
    meta = (pq.read_table([i.path for i in pinfos], filesystem=pfs)
            .to_pandas() if pinfos  # none: empty corpus
            else pd.DataFrame(columns=_PARTIAL_COLS))
    _rm_dir(pfs, partials_dir)
    return meta


_PARTIAL_COLS = ["gid", "term", "range_id", "sum_n", "sum_cf", "n_terms",
                 "bytes", "wall_ms"]


def _write_partials(m: pd.DataFrame, fs, path: str) -> None:
    """Derived-tables partials of one task, ONE aggregation pass: gid=2
    manifest rows (complete — a range never spans files or tasks), gid=1
    per-term dictionary partial sums folded across the task's files.
    Written as a SIDE FILE under _partials/ (deterministic per-bin name
    — retries overwrite idempotently). n_terms=('term','size') relies on
    the one-row-per-(term, range) invariant of the SPIMI kernel; sum_cf
    is computed for real so no column carries placeholder values a
    future consumer could misread; dropna=False keeps a genuinely-NULL
    term alive (the fused Spark epilogue's gid-split preserves it too)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    man = (m.groupby("range_id", sort=False)
           .agg(sum_n=("n", "sum"), sum_cf=("cf", "sum"),
                n_terms=("term", "size"),
                bytes=("n_bytes", "sum"),
                wall_ms=("wall_ms", "max"))
           .reset_index())
    man["gid"] = 2
    man["term"] = None
    dic = (m.groupby("term", sort=False, dropna=False)
           .agg(sum_n=("n", "sum"), sum_cf=("cf", "sum"))
           .reset_index())
    dic["gid"] = 1
    dic["range_id"] = -1
    dic["n_terms"] = 0
    dic["bytes"] = 0
    dic["wall_ms"] = 0
    folded = pd.concat([man[_PARTIAL_COLS], dic[_PARTIAL_COLS]],
                       ignore_index=True)
    pq.write_table(pa.Table.from_pandas(folded, preserve_index=False),
                   path, filesystem=fs)


def build_postings(spark: SparkSession, out_dir: str,
                   num_ranges: int = 16, n_buckets: int = DEFAULT_BUCKETS,
                   completed_ranges: set[int] | None = None) -> IndexPaths:
    """Phase B: the indexing job — docs table → postings + dictionary +
    stats + manifest.

    ``completed_ranges`` (from :func:`resume_info`) skips already-committed
    ranges — the resumable-checkpoint path (manifest anti-join); rows a
    crashed run wrote for the other ranges are dropped first.
    """
    t0 = time.monotonic()
    timings: dict[str, float] = {}

    def tick(label):
        nonlocal t0
        now = time.monotonic()
        timings[label] = timings.get(label, 0.0) + (now - t0)
        t0 = now

    paths = IndexPaths(out_dir)
    m = read_small_table(spark, paths.docs_meta).iloc[0]
    N, avgdl = int(m["N"]), float(m["avgdl"])
    docs_per_range = max(1, -(-N // num_ranges))  # ceil (stats)
    tick("stats_read")

    if completed_ranges:
        require_current_layout(spark, paths)
    # piggy-back the derived-tables partials on the SPIMI job itself
    # only when the whole index is being (re)built small enough for
    # the driver-side epilogue — on resume the partials would miss the
    # already-committed ranges.
    meta_partials = write_postings(
        spark, paths.docs, paths.postings, n_buckets,
        mode="append" if completed_ranges else "overwrite",
        skip=completed_ranges,
        carry_from=paths.postings if completed_ranges else None,
        collect_meta=not completed_ranges and N <= SMALL_DERIVED_DOCS_MAX)
    tick("spimi_write")

    refresh_derived_tables(spark, paths, N=N, avgdl=avgdl,
                           docs_per_range=docs_per_range,
                           num_ranges=num_ranges, n_buckets=n_buckets,
                           meta_partials=meta_partials, _tick=tick)
    # stage wall-clock breakdown (spimi_write = the parallel kernel+write;
    # the rest is the small derived-tables epilogue) — bench.py reads this
    # to report kernel-level scaling next to whole-job scaling
    paths.timings = dict(timings)
    return paths


def refresh_derived_tables(spark: SparkSession, paths: IndexPaths, *,
                           N: int, avgdl: float, docs_per_range: int,
                           num_ranges: int, n_buckets: int,
                           refresh_doc_stats: bool = False,
                           meta_partials: pd.DataFrame | None = None,
                           avgdl_build: float | None = None,
                           _tick=None) -> None:
    """dictionary / stats / manifest from the postings table (shared by
    build, maintenance, and streaming rollback). ``avgdl_build``
    defaults to ``avgdl``; a snapshot passes its source's value.

    Reads ONLY the metadata columns of postings (term, range_id, n, cf,
    n_bytes, wall_ms — the binary payloads are never touched: parquet
    column pruning) and caches that one small scan for both aggregates.
    ``refresh_doc_stats=True`` additionally rewrites doc_stats from docs
    (needed after deletes/rollbacks; the plain build produces it in
    :func:`prepare_docs`)."""
    def tick(label):
        if _tick is not None:
            _tick(label)

    from concurrent.futures import ThreadPoolExecutor

    # ONE pass over the postings metadata computes BOTH derived tables:
    # GROUPING SETS ((term), (range_id)) — the dictionary rows are the
    # term set, the manifest rows the range set, split by grouping_id.
    # The grouped result is tiny (|vocab| + |ranges| rows), so it is
    # persisted and the two writes are cache reads. This epilogue is the
    # serial Amdahl term of whole-job scaling at toy corpus sizes — one
    # scan + one aggregation is the floor for it.
    use_small = N <= SMALL_DERIVED_DOCS_MAX
    fused = None
    if meta_partials is not None and use_small:
        # the SPIMI tasks already wrote the two grouping-set partials
        # (piggy-backed on the build job): finish them with a pandas
        # groupby — NO epilogue Spark job at all. Manifest (gid=2) rows
        # arrive complete (a range never spans files); dictionary
        # (gid=1) partial sums fold across tasks here.
        mp = meta_partials
        d = (mp[mp["gid"] == 1]
             .groupby("term", sort=False, as_index=False)
             .agg(sum_n=("sum_n", "sum"), sum_cf=("sum_cf", "sum")))
        d["gid"] = 1
        probe = pd.concat([d, mp[mp["gid"] == 2]], ignore_index=True)
    else:
        meta_cols = spark.read.parquet(paths.postings).select(
            "term", "range_id", "n", "cf", "n_bytes", "wall_ms")
        fused = (meta_cols
                 .groupingSets([["term"], ["range_id"]],
                               "term", "range_id")
                 .agg(F.sum("n").alias("sum_n"),
                      F.sum("cf").alias("sum_cf"),
                      F.countDistinct("term").alias("n_terms"),
                      F.sum("n_bytes").alias("bytes"),
                      F.max("wall_ms").alias("wall_ms"),
                      F.grouping_id().alias("gid")))
        if not use_small:
            # two write jobs read the aggregate → materialize it once
            fused = fused.persist()
        # small path: ONE parallel collect of the aggregate (scan+agg
        # tasks still run at full parallelism; only the tiny result
        # crosses to the driver) — no persist, no second job, no
        # CollectLimit funnel
        probe = fused.toPandas() if use_small else None

    # split the grouping-sets result by grouping_id, NOT column nullness:
    # gid = grouping(term)·2 + grouping(range_id), so the (term) set is
    # gid=1 and the (range_id) set gid=2 — a genuinely-NULL term or
    # range_id value would survive here, where an isNotNull filter would
    # silently drop it (indistinguishable from the placeholder NULL)
    def _dictionary_job():
        (fused.filter(F.col("gid") == 1)
         .select("term", F.col("sum_n").alias("df"),
                 F.col("sum_cf").alias("cf"))
         .write.mode("overwrite").parquet(paths.dictionary))

    def _manifest_job():
        (fused.filter(F.col("gid") == 2)
         .select("range_id", F.col("sum_n").alias("n_postings"),
                 "n_terms", "bytes", "wall_ms")
         .withColumn("status", F.lit("committed"))
         .withColumn("analyzer_version", F.lit(ANALYZER_VERSION))
         .withColumn("committed_at", F.current_timestamp())
         .write.mode("overwrite").parquet(paths.manifest))

    def _small_derived_job():
        # small-corpus fast path: the fused frame fits on the driver, so
        # ONE collect replaces the two parquet-write Spark jobs — this
        # epilogue is the serial Amdahl term of whole-job scaling at
        # small corpus sizes, and every Spark job scheduling round-trip
        # in it shows up directly in the measured scaling efficiency.
        # The row-count guard keeps web-scale vocabularies (billions of
        # dictionary rows) on the distributed writers.
        pdf = probe
        d = pdf[pdf["gid"] == 1]
        dict_pdf = pd.DataFrame({
            "term": d["term"].astype(object),
            "df": d["sum_n"].astype("int64"),
            "cf": d["sum_cf"].astype("int64"),
        })
        write_small_table(spark, dict_pdf, paths.dictionary)
        m = pdf[pdf["gid"] == 2]
        man_pdf = pd.DataFrame({
            "range_id": m["range_id"].astype("int32"),
            "n_postings": m["sum_n"].astype("int64"),
            "n_terms": m["n_terms"].astype("int64"),
            "bytes": m["bytes"].astype("int64"),
            "wall_ms": m["wall_ms"].astype("int64"),
            "status": "committed",
            "analyzer_version": ANALYZER_VERSION,
            "committed_at": pd.Timestamp.now().floor("us"),
        })
        man_pdf["committed_at"] = man_pdf["committed_at"].astype(
            "datetime64[us]")  # Spark's parquet reader rejects NANOS
        write_small_table(spark, man_pdf, paths.manifest)

    def _stats_job():
        write_stats(spark, paths, N=N, avgdl=avgdl,
                    avgdl_build=avgdl if avgdl_build is None else avgdl_build,
                    docs_per_range=docs_per_range, num_ranges=num_ranges,
                    n_buckets=n_buckets)

    if use_small:
        jobs = [_small_derived_job, _stats_job]
    else:
        jobs = [_dictionary_job, _manifest_job, _stats_job]
    if refresh_doc_stats:
        jobs.append(lambda: (spark.read.parquet(paths.docs)
                             .select("doc_id", "dl")
                             .write.mode("overwrite")
                             .parquet(paths.doc_stats)))
    with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
        futures = [ex.submit(j) for j in jobs]
        for f in futures:
            f.result()
    tick("derived_tables")
    if not use_small:
        fused.unpersist()


def write_stats(spark: SparkSession, paths: IndexPaths, *, N: int,
                avgdl: float, avgdl_build: float, docs_per_range: int,
                num_ranges: int, n_buckets: int) -> None:
    """The one-row ``stats`` table the query side scores with."""
    write_small_table(spark, pd.DataFrame([{
        "N": N, "avgdl": avgdl, "avgdl_build": avgdl_build,
        "docs_per_range": docs_per_range, "num_ranges": num_ranges,
        "n_buckets": n_buckets, "analyzer_version": ANALYZER_VERSION,
        "k1": BM25_K1, "b": BM25_B,
    }]), paths.stats)


def write_docs_meta(spark: SparkSession, paths: IndexPaths
                    ) -> tuple[int, float]:
    """docs_meta (N, Σdl, avgdl) from the docs table; → (N, avgdl)."""
    g = (spark.read.parquet(paths.docs)
         .agg(F.count("*").alias("N"), F.sum("dl").alias("s")).collect()[0])
    N, sum_dl = int(g["N"]), int(g["s"] or 0)
    avgdl = (sum_dl / N) if N else 0.0
    write_small_table(spark, pd.DataFrame(
        [{"N": N, "sum_dl": sum_dl, "avgdl": avgdl}]), paths.docs_meta)
    return N, avgdl


def refresh_derived_full(spark: SparkSession, paths: IndexPaths, *,
                         docs_per_range: int, num_ranges: int,
                         n_buckets: int,
                         avgdl_build: float | None = None) -> None:
    """Every derived table of an index whose docs changed (snapshots,
    streaming rollback): N/avgdl/doc_stats/docs_meta from the docs,
    the rest from the postings."""
    N, avgdl = write_docs_meta(spark, paths)
    refresh_derived_tables(spark, paths, N=N, avgdl=avgdl,
                           docs_per_range=docs_per_range,
                           num_ranges=num_ranges, n_buckets=n_buckets,
                           refresh_doc_stats=True, avgdl_build=avgdl_build)


def build_index(spark: SparkSession, docs_df: DataFrame, out_dir: str,
                num_ranges: int = 16, n_buckets: int = DEFAULT_BUCKETS,
                id_partitions: int = 32,
                completed_ranges: set[int] | None = None) -> IndexPaths:
    """Full index build: docs(url, text, lang) → index tables at ``out_dir``
    (= :func:`prepare_docs` + :func:`build_postings`). On resume
    (``completed_ranges``) the existing docs table is reused."""
    if not completed_ranges:
        prepare_docs(spark, docs_df, out_dir, id_partitions=id_partitions)
    return build_postings(spark, out_dir, num_ranges=num_ranges,
                          n_buckets=n_buckets,
                          completed_ranges=completed_ranges)


def resume_info(spark: SparkSession, out_dir: str) -> set[int]:
    """Committed range_ids from the manifest (empty set if no manifest)."""
    paths = IndexPaths(out_dir)
    try:
        rows = (spark.read.parquet(paths.manifest)
                .filter(F.col("status") == "committed")
                .select("range_id").collect())
        return {int(r["range_id"]) for r in rows}
    except Exception:
        return set()
