"""Seeded inputs for the benchmark workloads (no Spark).

Everything here is a pure function of ``seed`` and sizes, so the same
seed gives byte-identical inputs. Pages come from the package's own
synthetic corpus generator (``synth.make_pages_pdf``); this module adds
what the workloads need on top of it:

- appended pages whose urls are disjoint from the base corpus
  (``make_pages_pdf`` emits the same ``/doc/{i:06d}`` urls for every
  seed, so a second draw would collide);
- ``warc_ts`` dropped, because Spark's parquet reader rejects the
  nanosecond timestamps pandas writes;
- per-doc embeddings keyed by doc_id, for hybrid search;
- Zipf-distributed query terms over the synthetic vocabulary, and
  phrase queries cut from real page text so that they match.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pdf_to_opensearch_spark import synth

EMBED_DIM = 16
# one stream per purpose: changing how many queries one workload draws
# never shifts another workload's pages
_PAGES, _APPEND, _EMBED, _QUERIES, _PHRASES, _QVEC = range(6)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, *stream]))


def _sub_seed(seed: int, *stream: int) -> int:
    return int(np.random.SeedSequence([seed, *stream]).generate_state(1)[0])


def base_pages(seed: int, n_docs: int, min_len: int, max_len: int
               ) -> pd.DataFrame:
    """The crawl: ``pages(url, html, text, lang)`` sorted by url.

    Row ``i`` gets doc_id ``i`` when indexed, since the engine assigns
    doc_ids in url order."""
    pdf = synth.make_pages_pdf(n_docs=n_docs, seed=_sub_seed(seed, _PAGES),
                               min_len=min_len, max_len=max_len)
    return pdf.drop(columns=["warc_ts"]).reset_index(drop=True)


def append_pages(seed: int, batch: int, n_docs: int, min_len: int,
                 max_len: int) -> pd.DataFrame:
    """Batch ``batch`` of newly crawled pages, urls under ``/append/``.

    The base corpus only uses ``/doc/``, ``/edge/`` and ``/fixture/``
    paths, and the batch number is part of every url, so batches are
    disjoint from the base and from each other."""
    pdf = synth.make_pages_pdf(n_docs=n_docs,
                               seed=_sub_seed(seed, _APPEND, batch),
                               min_len=min_len, max_len=max_len)
    prefix = f"https://example.org/append/{batch:04d}/"
    urls = [prefix + u.split("https://example.org/", 1)[1] for u in pdf["url"]]
    pdf = pdf.assign(url=urls,
                     html=[synth.wrap_html(t, u)
                           for u, t in zip(urls, pdf["text"])])
    return (pdf.drop(columns=["warc_ts"])
            .sort_values("url", ignore_index=True))


def expected_texts(pages: pd.DataFrame) -> list[str]:
    """Ground-truth extractor output, in the frame's row order."""
    return list(synth.expected_text(pages))


def embeddings(seed: int, n_docs: int, dim: int = EMBED_DIM) -> np.ndarray:
    """Row ``doc_id`` is that document's embedding."""
    return _rng(seed, _EMBED).standard_normal((n_docs, dim))


def query_vectors(seed: int, n: int, dim: int = EMBED_DIM) -> np.ndarray:
    return _rng(seed, _QVEC).standard_normal((n, dim))


def zipf_queries(seed: int, n: int, max_terms: int = 3) -> list[str]:
    """``n`` queries of 1..max_terms terms drawn Zipf (p ∝ 1/rank) from
    the synthetic vocabulary: head terms have long posting lists, tail
    terms short ones."""
    rng = _rng(seed, _QUERIES)
    vocab = np.array(synth._vocab())
    probs = 1.0 / np.arange(1, vocab.size + 1)
    probs /= probs.sum()
    lens = rng.integers(1, max_terms + 1, size=n)
    return [" ".join(vocab[rng.choice(vocab.size, size=int(m), p=probs)])
            for m in lens]


def phrase_queries(seed: int, pages: pd.DataFrame, n: int,
                   min_terms: int = 2, max_terms: int = 3) -> list[str]:
    """``n`` phrases cut from the body text of random pages, so each
    one occurs in at least one document."""
    rng = _rng(seed, _PHRASES)
    body = [t for u, t in zip(pages["url"], pages["text"])
            if "/doc/" in u and len(t.split()) > max_terms]
    out = []
    for _ in range(n):
        words = [w.strip(".") for w in body[rng.integers(len(body))].split()]
        m = int(rng.integers(min_terms, max_terms + 1))
        start = int(rng.integers(0, len(words) - m + 1))
        out.append(" ".join(words[start:start + m]))
    return out
