"""Seeded query generator.

Terms come from an index's (term, df) vocabulary, bucketed by df rank:
``hot`` is the top 0.2% of ranks (at least 3 terms), ``rare`` the bottom
half and ``mid`` the rest. In the code corpus the hot terms are the
near-universal keywords (``def``, ``return``, ``import``, ...), whose
single-term queries tie on rounded score across much of the corpus.
Out-of-vocabulary strings are made up and checked against the vocabulary.
Every query follows one of ``TEMPLATES`` in a fixed cycle, so each seed
gets the same mix of shapes (single hot terms, duplicates, all-OOV, 1 to 4
terms) and only the drawn terms change.

``QueryPool`` serves the timed workloads. It draws from a fixed pool that a
``QueryGen`` with a fixed seed made once per corpus, whose reference rows
are computed when the pool is made (see fixtures.py). The workload seed
picks and orders the pool's queries, in the same cycle of shapes.
"""

from __future__ import annotations

import random

# "same" repeats the previous term (a duplicate-term query)
TEMPLATES: tuple[tuple[str, ...], ...] = (
    ("hot",),
    ("mid",),
    ("rare",),
    ("hot", "mid"),
    ("mid", "rare", "rare"),
    ("hot", "hot", "mid", "rare"),
    ("mid", "same", "rare"),
    ("oov",),
    ("rare", "oov"),
    ("hot",),
)


def buckets(vocab: list[tuple[str, int]]) -> dict[str, list[str]]:
    """(term, df) pairs -> {hot, mid, rare} term lists by df rank."""
    if len(vocab) < 6:
        raise ValueError(f"vocabulary too small to bucket: {len(vocab)} terms")
    ranked = [t for t, _ in sorted(vocab, key=lambda p: (-p[1], p[0]))]
    n_hot = max(3, len(ranked) // 500)
    n_rare = len(ranked) // 2
    return {
        "hot": ranked[:n_hot],
        "mid": ranked[n_hot : len(ranked) - n_rare],
        "rare": ranked[len(ranked) - n_rare :],
    }


class QueryGen:
    """Deterministic stream of query texts for one seed."""

    def __init__(self, vocab: list[tuple[str, int]], seed: int):
        self._b = buckets(vocab)
        self._known = {t for t, _ in vocab}
        self._rng = random.Random(seed)
        self._i = 0

    def _oov(self) -> str:
        while True:
            s = "zq" + "".join(self._rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(7))
            if s not in self._known:
                return s

    def next(self) -> str:
        shape = TEMPLATES[self._i % len(TEMPLATES)]
        self._i += 1
        words: list[str] = []
        for kind in shape:
            if kind == "same":
                words.append(words[-1])
            elif kind == "oov":
                words.append(self._oov())
            else:
                words.append(self._rng.choice(self._b[kind]))
        return " ".join(words)

    def batch(self, n: int, first_qid: int = 0) -> list[tuple[int, str]]:
        return [(first_qid + i, self.next()) for i in range(n)]


class QueryPool:
    """Deterministic stream of query texts for one seed, drawn from a
    fixed pool. ``pool[i]`` has shape ``TEMPLATES[i % len(TEMPLATES)]``, as
    ``QueryGen.batch`` makes it. Each shape's queries are shuffled by the
    seed and served in turn, so a run repeats a query only after it has
    used every other query of that shape."""

    def __init__(self, pool: list[str], seed: int):
        n = len(TEMPLATES)
        if len(pool) < n:
            raise ValueError(f"pool too small for {n} shapes: {len(pool)} queries")
        rng = random.Random(seed)
        self._by_shape = []
        for j in range(n):
            texts = pool[j::n]
            rng.shuffle(texts)
            self._by_shape.append(texts)
        self._i = 0

    def next(self) -> str:
        n = len(TEMPLATES)
        texts = self._by_shape[self._i % n]
        text = texts[(self._i // n) % len(texts)]
        self._i += 1
        return text

    def batch(self, n: int, first_qid: int = 0) -> list[tuple[int, str]]:
        return [(first_qid + i, self.next()) for i in range(n)]
