"""NumPy oracle for refine results.

Exact scores are computed in float64 over the fp16-rounded corpus, the
value space the refine operator ranks in: squared L2 distance for the
``l2-*`` modes (lower is better), cosine of the unit vectors for the
``cos-*`` modes (higher is better).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

NORM_EPS = 1e-12
#: absolute/relative slack for float64 sums taken in another order
SCORE_TOL = 1e-6


def fp16_space(vecs: np.ndarray) -> np.ndarray:
    return np.asarray(vecs, dtype=np.float32).astype(np.float16).astype(np.float64)


def _unit(m: np.ndarray) -> np.ndarray:
    norms = np.sqrt((m * m).sum(axis=1, keepdims=True))
    return m / np.maximum(norms, NORM_EPS)


class Oracle:
    """Exact scores of query batches against one corpus snapshot."""

    def __init__(self, corpus_vecs: np.ndarray, mode: str):
        self.cosine = mode.startswith("cos-")
        full = fp16_space(corpus_vecs)
        self._full = _unit(full) if self.cosine else full
        self._sq = None if self.cosine else (full * full).sum(axis=1)

    def scores(self, query_vecs: np.ndarray) -> np.ndarray:
        """(q, N) exact scores."""
        q = np.asarray(query_vecs, dtype=np.float32).astype(np.float64)
        if self.cosine:
            return _unit(q) @ self._full.T
        d2 = (q * q).sum(axis=1)[:, None] - 2.0 * (q @ self._full.T) + self._sq[None, :]
        return np.maximum(d2, 0.0)


@dataclass
class Verdict:
    ok: bool
    recall: float  # mean over the batch's queries
    reason: str = ""


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= SCORE_TOL * max(1.0, abs(b))


def check(
    rows: list[tuple[int, int, int, float]],
    query_ids: np.ndarray,
    exact: np.ndarray,
    k: int,
    cosine: bool,
    zero_miss: bool,
) -> Verdict:
    """Check one request's ``(query_id, rank, neighbor_id, score)`` rows.

    Every query must get ``min(k, N)`` distinct neighbours ranked 1..k in
    score order, each reported score must equal the exact score of its
    (query, neighbour) pair, and for a zero-miss request the neighbour set
    must be the exact top-K, ties within ``SCORE_TOL`` tolerated. Recall is
    the share of returned neighbours that score within the exact top-K.
    """
    by_query: dict[int, list[tuple[int, int, float]]] = {int(q): [] for q in query_ids}
    for qid, rank, nid, score in rows:
        if int(qid) not in by_query:
            return Verdict(False, 0.0, f"unknown query id {qid}")
        by_query[int(qid)].append((int(rank), int(nid), float(score)))

    n = exact.shape[1]
    want = min(k, n)
    hits = 0
    for i, qid in enumerate(query_ids):
        got = sorted(by_query[int(qid)])
        ex = exact[i]
        if [r for r, _, _ in got] != list(range(1, want + 1)):
            return Verdict(False, 0.0, f"query {qid}: ranks {[r for r, _, _ in got]}")
        ids = [nid for _, nid, _ in got]
        if len(set(ids)) != want or min(ids) < 0 or max(ids) >= n:
            return Verdict(False, 0.0, f"query {qid}: neighbour ids {ids}")
        for rank, nid, score in got:
            if not _close(score, ex[nid]):
                reason = f"query {qid} rank {rank}: score {score} != exact {ex[nid]} of id {nid}"
                return Verdict(False, 0.0, reason)
        reported = [s for _, _, s in got]
        ordered = reported == sorted(reported, reverse=cosine)
        if not ordered:
            return Verdict(False, 0.0, f"query {qid}: scores out of rank order")
        # k-th best exact score over the whole corpus
        kth = np.sort(-ex if cosine else ex)[want - 1]
        kth = -kth if cosine else kth
        slack = SCORE_TOL * max(1.0, abs(kth))
        in_topk = (ex[ids] >= kth - slack) if cosine else (ex[ids] <= kth + slack)
        hits += int(in_topk.sum())
        if zero_miss and not in_topk.all():
            missing = [nid for nid, ok in zip(ids, in_topk) if not ok]
            return Verdict(False, 0.0, f"query {qid}: ids {missing} are outside the exact top-{k}")
    return Verdict(True, hits / (want * len(query_ids)))
