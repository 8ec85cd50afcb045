"""Driver-side output checks. Each one recomputes the answer from the
generated inputs without Spark and compares it with what the engine
returned; a failed check counts the op as failed."""

from __future__ import annotations

import hashlib

import numpy as np

from clann_spark.functions.text import py_shingles


def digest(*cols: np.ndarray) -> str:
    """Order-insensitive fingerprint of rows given as parallel columns."""
    rows = np.stack([np.asarray(c, dtype=np.int64) for c in cols], axis=1)
    rows = rows[np.lexsort(rows.T[::-1])] if len(rows) else rows
    return hashlib.sha1(np.ascontiguousarray(rows).tobytes()).hexdigest()


class ShingleCache:
    """py_shingles sets of generated documents, computed on first use."""

    def __init__(self, texts: dict[int, str], k: int):
        self.texts, self.k, self._sets = texts, k, {}

    def __getitem__(self, doc_id: int) -> frozenset:
        s = self._sets.get(doc_id)
        if s is None:
            s = self._sets[doc_id] = frozenset(py_shingles(self.texts[doc_id], self.k))
        return s

    def jaccard(self, a: int, b: int) -> float:
        sa, sb = self[a], self[b]
        return len(sa & sb) / len(sa | sb)


def pairs_clear_tau(shingles: ShingleCache, a, b, tau: float) -> bool:
    """Every reported pair's exact shingle Jaccard is >= tau."""
    return all(shingles.jaccard(x, y) >= tau for x, y in zip(a.tolist(), b.tolist()))


def components(a, b) -> dict[int, int]:
    """Union-find over edges -> {node: min node of its component}."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in zip(a.tolist(), b.tolist()):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    return {n: find(n) for n in parent}


def clusters_match_pairs(doc_id, cluster_id, a, b) -> bool:
    """The engine's (doc_id, cluster_id) rows are exactly the connected
    components of the verified pairs, labelled by their min member."""
    want = components(a, b)
    got = dict(zip(np.asarray(doc_id).tolist(), np.asarray(cluster_id).tolist()))
    return len(got) == len(doc_id) and got == want


def summary_consistent(row, n_docs: int, cluster_id) -> bool:
    """dedup_summary agrees with the exact doc count and the clusters."""
    k = len(set(np.asarray(cluster_id).tolist()))
    m = len(cluster_id)
    return (
        row["n_docs"] == n_docs
        and row["n_clusters"] == n_docs - m + k
        and row["n_removed"] == m - k
    )


def cluster_recall(planted: list[tuple[int, int]], cluster_of: dict[int, int]) -> float:
    """Share of planted (dup, source) pairs placed in one cluster."""
    if not planted:
        return 1.0
    hit = sum(
        1
        for d, s in planted
        if d in cluster_of and cluster_of[d] == cluster_of.get(s)
    )
    return hit / len(planted)
