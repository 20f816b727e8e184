"""Correctness checks of engine results against references (no Spark).

Each check returns None when the result is right, or a one-line reason.
"""

from __future__ import annotations

import numpy as np

SCORE_TOL = 1e-6
RRF_K0 = 60


def ranked_mismatch(got: list[tuple[int, float]],
                    want: list[tuple[int, float]],
                    tol: float = SCORE_TOL) -> str | None:
    """Rank-identical doc ids, scores within ``tol``."""
    g_ids = [d for d, _ in got]
    w_ids = [d for d, _ in want]
    if g_ids != w_ids:
        return f"doc ids {g_ids[:5]}... != oracle {w_ids[:5]}..."
    for (d, gs), (_, ws) in zip(got, want):
        if abs(gs - ws) > tol:
            return f"doc {d} score {gs!r} != oracle {ws!r}"
    return None


def rows_by_query(rows, score_field: str = "score") -> dict:
    """Engine rows (query_id, rank, doc_id, score) → {qid: [(doc, score)]}
    in rank order."""
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(int(r["query_id"]), []).append(
            (int(r["doc_id"]), float(r[score_field])))
    return out


def rrf_reference(bm25_top: list[tuple[int, float]], emb: np.ndarray,
                  qvec, k: int, depth: int, k0: int = RRF_K0) -> list[int]:
    """Reciprocal-rank fusion of the oracle's BM25 list (cut at ``depth``
    after ranking on 4-dp-rounded scores, as the engine does) and an
    exact cosine top-``depth`` over ``emb`` (row = doc_id)."""
    top = sorted(bm25_top, key=lambda t: (-round(t[1], 4), t[0]))[:depth]
    norms = np.maximum(np.linalg.norm(emb, axis=1, keepdims=True), 1e-12)
    q = np.asarray(qvec, dtype=np.float64)
    sims = (emb / norms) @ (q / np.linalg.norm(q))
    knn = np.lexsort((np.arange(sims.size), -sims))[:depth]
    scores: dict[int, float] = {}
    for ids in ([d for d, _ in top], [int(i) for i in knn]):
        for r, d in enumerate(ids, start=1):
            scores[d] = scores.get(d, 0.0) + 1.0 / (k0 + r)
    ranked = sorted(scores.items(), key=lambda t: (-round(t[1], 6), t[0]))
    return [d for d, _ in ranked[:k]]


def text_mismatches(got: dict[str, str], want: dict[str, str]) -> list[str]:
    """Urls whose extracted text is not byte-identical (or is missing or
    unexpected)."""
    bad = [u for u, t in want.items()
           if got.get(u, "").encode() != t.encode() or u not in got]
    bad += [u for u in got if u not in want]
    return bad
