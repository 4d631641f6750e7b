"""Correctness references: exact L2 top-k in NumPy and ANN recall.

The engine declares the tiebreak ``(distance, id)``.  Distances computed by
the JVM fold, by BLAS and here differ in the last bits, so comparisons are
tie-tolerant: an answer is right when it holds every id strictly inside the
reference's k-th distance (less ``EPS``) and nothing beyond it (plus ``EPS``).
"""

from __future__ import annotations

import numpy as np

EPS = 1e-9
DIST_RTOL = 1e-6


class Snapshot:
    """In-memory copy of the corpus: ids and float64 embeddings."""

    def __init__(self):
        self.ids: list[str] = []
        self._rows: list[np.ndarray] = []
        self._mat: np.ndarray | None = None

    def add(self, chunks) -> None:
        for c in chunks:
            self.ids.append(c.id)
            self._rows.append(c.embedding)
        self._mat = None

    def __len__(self) -> int:
        return len(self.ids)

    def distances(self, q: np.ndarray) -> np.ndarray:
        if self._mat is None:
            self._mat = np.vstack(self._rows)
        diff = self._mat - np.asarray(q, dtype=np.float64)[None, :]
        return np.sqrt((diff * diff).sum(axis=1))

    def vector(self, i: int) -> np.ndarray:
        return self._rows[i]


def topk_matches(ref: list[tuple[float, str]], got_ids, got_dist=None, k: int = 5) -> str | None:
    """``None`` when ``got_ids`` is a right top-k for ``ref``; else why not.

    ``ref`` must hold every candidate at the k-th distance, so callers pass
    a reference computed with a wider k (see :func:`reference_pool`).
    """
    got_ids = list(got_ids)
    if len(got_ids) != min(k, len(ref)) or len(set(got_ids)) != len(got_ids):
        return f"expected {min(k, len(ref))} distinct ids, got {got_ids}"
    kth = ref[min(k, len(ref)) - 1][0]
    dist = dict((i, d) for d, i in ref)
    must = {i for d, i in ref if d < kth - EPS}
    allowed = {i for d, i in ref if d <= kth + EPS}
    if not must <= set(got_ids):
        return f"missing ids {sorted(must - set(got_ids))[:3]}"
    if not set(got_ids) <= allowed:
        return f"ids beyond the k-th distance {sorted(set(got_ids) - allowed)[:3]}"
    if got_dist is not None:
        for i, d in zip(got_ids, got_dist):
            if abs(d - dist[i]) > DIST_RTOL * max(1.0, dist[i]):
                return f"distance of {i[:12]} is {d}, expected {dist[i]}"
    return None


def reference_pool(snapshot: Snapshot, q, k: int = 5) -> list[tuple[float, str]]:
    """Reference candidates: the exact top-k plus every id tied with the k-th."""
    d = snapshot.distances(q)
    order = sorted(zip(d.tolist(), snapshot.ids))
    if len(order) <= k:
        return order
    kth = order[k - 1][0]
    return [p for p in order if p[0] <= kth + EPS]


def recall_at_k(exact: dict, approx: dict, k: int = 5) -> float:
    """Share of the exact per-query top-k ids that the approximate answer found."""
    hit = total = 0
    for qid, ids in exact.items():
        want = set(ids[:k])
        hit += len(want & set(approx.get(qid, [])[:k]))
        total += len(want)
    return hit / total
