"""Reference recomputations the benchmark checks engine outputs against.

Everything here is plain numpy / Python over collected rows, run outside
the timed region. Ranking ties are broken as the engine documents them:
score descending, then id ascending.
"""

from __future__ import annotations

import math

import numpy as np

# Two scores closer than this are treated as tied: the engine and numpy
# may sum a dot product in different orders.
SCORE_TOL = 1e-9


def ranked(ids: np.ndarray, scores: np.ndarray, k: int) -> list:
    """Top-``k`` ids by (score desc, id asc)."""
    order = np.lexsort((ids, -scores))
    return [ids[i] for i in order[:k]]


def topk_matches(got: list[tuple], ids: np.ndarray, scores: np.ndarray, k: int) -> str | None:
    """Check engine rows ``[(id, score), ...]`` (rank order) against the
    exact top-``k`` of the candidates ``(ids, scores)``. Returns None
    when they agree, else a message.

    The engine's own scores must be in (score desc, id asc) order. Each
    returned score must equal the reference within ``SCORE_TOL``, and
    the returned set must be a top-k of the reference: only ids whose
    reference scores are within ``SCORE_TOL`` of the k-th may differ."""
    want_n = min(k, len(ids))
    if len(got) != want_n:
        return f"expected {want_n} rows, got {len(got)}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate ids in result"
    score_of = dict(zip(ids.tolist(), scores.tolist()))
    for (p_id, p_sc), (did, sc) in zip(got, got[1:]):
        if sc > p_sc or (sc == p_sc and did < p_id):
            return f"rows out of (score desc, id asc) order at {did!r}"
    for did, sc in got:
        ref = score_of.get(did)
        if ref is None:
            return f"id {did!r} is not a candidate"
        if abs(ref - sc) > SCORE_TOL:
            return f"id {did!r} scored {sc!r}, reference {ref!r}"
    if want_n == 0:
        return None
    kth = score_of[ranked(ids, scores, k)[-1]]
    got_ids = {d for d, _ in got}
    if any(score_of[d] < kth - SCORE_TOL for d in got_ids):
        return "a returned id scores below the exact k-th result"
    if any(s > kth + SCORE_TOL and d not in got_ids for d, s in score_of.items()):
        return "an id scoring above the exact k-th result is missing"
    return None


def probed_lists(q: np.ndarray, cids: np.ndarray, C: np.ndarray, nprobe: int) -> set:
    """The ``nprobe`` lists a query probes: cosine to each centroid,
    (similarity desc, cent_id asc)."""
    qn = q / (np.linalg.norm(q) or 1.0)
    cn = np.linalg.norm(C, axis=1, keepdims=True)
    Cn = np.divide(C, cn, out=np.zeros_like(C), where=cn > 0)
    return set(ranked(cids, Cn @ qn, nprobe))


def nearest_list(D: np.ndarray, cids: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Each row's IVF list: the centroid of highest cosine, lowest
    cent_id on ties (``cids`` ascending)."""
    dn = np.linalg.norm(D, axis=1, keepdims=True)
    cn = np.linalg.norm(C, axis=1, keepdims=True)
    Dn = np.divide(D, dn, out=np.zeros_like(D), where=dn > 0)
    Cn = np.divide(C, cn, out=np.zeros_like(C), where=cn > 0)
    return cids[np.argmax(Dn @ Cn.T, axis=1)]


def cosine(D: np.ndarray, q: np.ndarray) -> np.ndarray:
    dn = np.linalg.norm(D, axis=1, keepdims=True)
    Dn = np.divide(D, dn, out=np.zeros_like(D), where=dn > 0)
    return Dn @ (q / (np.linalg.norm(q) or 1.0))


def retrieval_metrics(retrieved: dict, qrels: dict, k_values) -> dict:
    """Mean p@k, r@k and MAP over the queries in ``retrieved``
    (qid -> ids in rank order; qrels: qid -> set of relevant ids), as
    ``operators/metrics.py`` defines them: p@k divides by the rows
    retrieved within k, and AP averages precision over the ranks that
    hit (0 for a query with no hit)."""
    out = {}
    qids = sorted(retrieved)
    for k in k_values:
        p, r = [], []
        for q in qids:
            rel = qrels.get(q, set())
            top = retrieved[q][:k]
            hits = sum(1 for d in top if d in rel)
            p.append(hits / len(top) if top else 0.0)
            r.append(hits / len(rel) if rel else 0.0)
        out[f"p_at_{k}"] = sum(p) / len(qids)
        out[f"r_at_{k}"] = sum(r) / len(qids)
    aps = []
    for q in qids:
        rel = qrels.get(q, set())
        hits, s = 0, 0.0
        for i, d in enumerate(retrieved[q], start=1):
            if d in rel:
                hits += 1
                s += hits / i
        aps.append(s / hits if hits else 0.0)
    out["map"] = sum(aps) / len(qids)
    return out


def span_chunks(text: str, span_tokens: int) -> list[str]:
    toks = text.split()
    return [
        " ".join(toks[i : i + span_tokens]) for i in range(0, len(toks), span_tokens)
    ]


def close(a: float, b: float, tol: float = 1e-9) -> bool:
    return math.isclose(a, b, rel_tol=tol, abs_tol=tol)
