"""Exact BM25 top-k in numpy: the benchmark's independent oracle.

It tokenizes by the engine's analyzer rule (lowercase, split on runs of
``[^a-z0-9]``, drop empties) and scores with Lucene's idf,
``ln(1 + (N - df + 0.5) / (df + 0.5))``, with k1 = 1.2 and b = 0.75.
Query terms are deduplicated and a document's contributions are summed
in sorted-term order. Nothing here imports ``antidb_spark.operators``.

Statistics follow the engine's documented upsert contract: a replaced
generation of a document stays counted in N, df and avgdl until a purge,
but it is never returned.
"""

from __future__ import annotations

import re
from collections import Counter

import numpy as np

K1 = 1.2
B = 0.75
_SPLIT = re.compile("[^a-z0-9]+")

DocId = tuple[str, int]


def tokens(text: str) -> list[str]:
    return [t for t in _SPLIT.split(text.lower()) if t]


class Bm25Oracle:
    """Every generation of every document ever indexed, with the latest
    generation of each id alive."""

    def __init__(self) -> None:
        self.ids: list[DocId] = []
        self.dl: list[int] = []
        self.alive: list[bool] = []
        self._latest: dict[DocId, int] = {}
        self._post: dict[str, tuple[list[int], list[int]]] = {}

    def add(self, conv_id: str, turn_idx: int, text: str) -> None:
        """Index one document; an existing id is replaced (upsert)."""
        doc = (conv_id, int(turn_idx))
        old = self._latest.get(doc)
        if old is not None:
            self.alive[old] = False
        gen = len(self.ids)
        self._latest[doc] = gen
        self.ids.append(doc)
        self.alive.append(True)
        counts = Counter(tokens(text))
        self.dl.append(sum(counts.values()))
        for term, tf in counts.items():
            gens, tfs = self._post.setdefault(term, ([], []))
            gens.append(gen)
            tfs.append(tf)

    def top_k(self, query: str, k: int = 10) -> list[tuple[DocId, float]]:
        """Best ``k`` alive documents as (id, score), score descending,
        ties by id ascending."""
        n = len(self.ids)
        dl = np.asarray(self.dl, dtype=np.float64)
        avgdl = float(sum(self.dl)) / n
        scores = np.zeros(n)
        for term in sorted(set(tokens(query))):
            post = self._post.get(term)
            if post is None:
                continue
            gens = np.asarray(post[0], dtype=np.int64)
            tf = np.asarray(post[1], dtype=np.float64)
            df = gens.size
            idf = np.log(1.0 + (n - df + 0.5) / (df + 0.5))
            tfw = (tf * (K1 + 1.0)) / (
                tf + K1 * (1.0 - B + (B * dl[gens]) / avgdl)
            )
            scores[gens] += idf * tfw
        scores[~np.asarray(self.alive)] = 0.0
        hits = np.flatnonzero(scores > 0.0)
        if hits.size > k:
            kth = np.partition(scores[hits], hits.size - k)[hits.size - k]
            hits = hits[scores[hits] >= kth]
        ranked = sorted(hits, key=lambda g: (-scores[g], self.ids[g]))[:k]
        return [(self.ids[g], float(scores[g])) for g in ranked]


def same_results(
    got: list[tuple[DocId, float]],
    want: list[tuple[DocId, float]],
    rel_tol: float = 1e-9,
) -> bool:
    """Whether two ranked top-k lists agree: the same scores rank by
    rank, and the same ids except where equal scores tie. Ties at the
    cut may pick different ids, so ids are compared as a set only among
    the documents strictly above the last score."""
    if len(got) != len(want):
        return False
    for (_, s_got), (_, s_want) in zip(got, want):
        if abs(s_got - s_want) > rel_tol * max(1.0, abs(s_want)):
            return False
    if not want:
        return True
    cut = want[-1][1] * (1.0 + rel_tol)
    above_got = {d for d, s in got if s > cut}
    above_want = {d for d, s in want if s > cut}
    return above_got == above_want
