"""Vectorized WAND phase-2 survival test vs the round-2 reference loop.

The vectorized `_wand_survival` must (a) be EXACTLY the loop's answer when
every term's block intervals are disjoint+sorted (one segment — the compacted
layout), and (b) keep a SUPERSET of the loop's blocks when intervals of a term
interleave (logical merge of several segments): a looser-but-valid upper bound
never prunes a block the exact bound would keep, so WAND exactness (wand ==
exhaustive, asserted in test_index.py) is preserved.
"""

from __future__ import annotations

import numpy as np
import pytest

from geometric_aware_retrieval_v2_spark.operators.index import _wand_survival


def _survival_loop_reference(terms, first, last, ub, theta):
    """The round-2 per-block Python loop (exact overlap max), kept as the
    semantic reference for the vectorized kernel."""
    nb = len(ub)
    keep = np.ones(nb, dtype=bool)
    uterms = np.unique(terms)
    by_term = {t: np.nonzero(terms == t)[0] for t in uterms}
    for i in range(nb):
        bound = ub[i]
        for t in uterms:
            if t == terms[i]:
                continue
            idxs = by_term[t]
            ov = (first[idxs] <= last[i]) & (last[idxs] >= first[i])
            if ov.any():
                bound += ub[idxs][ov].max()
        keep[i] = bound >= theta
    return keep


def _gen_blocks(rng, n_terms, n_segments, blocks_per_seg, gap_scale=10):
    """Per (term, segment): disjoint sorted intervals; segments interleave."""
    terms, first, last = [], [], []
    for t in range(n_terms):
        for s in range(n_segments):
            pos = int(rng.integers(0, 50))
            for _ in range(int(blocks_per_seg)):
                width = int(rng.integers(1, 40))
                f = pos + int(rng.integers(1, gap_scale))
                l = f + width
                pos = l
                terms.append(t)
                first.append(f)
                last.append(l)
    terms = np.asarray(terms, dtype=np.int64)
    first = np.asarray(first, dtype=np.int64)
    last = np.asarray(last, dtype=np.int64)
    ub = rng.uniform(0.1, 5.0, size=len(terms))
    # shuffle row order: the kernel receives blocks in arbitrary order
    p = rng.permutation(len(terms))
    return terms[p], first[p], last[p], ub[p]


@pytest.mark.parametrize("seed", range(8))
def test_exact_on_disjoint_single_segment(seed):
    rng = np.random.default_rng(seed)
    terms, first, last, ub = _gen_blocks(rng, n_terms=4, n_segments=1, blocks_per_seg=30)
    for q in (0.1, 0.5, 0.9):
        theta = float(np.quantile(ub, q)) * 2.0
        got = _wand_survival(terms, first, last, ub, theta)
        want = _survival_loop_reference(terms, first, last, ub, theta)
        assert np.array_equal(got, want)


@pytest.mark.parametrize("seed", range(8))
def test_superset_on_interleaved_segments(seed):
    rng = np.random.default_rng(100 + seed)
    terms, first, last, ub = _gen_blocks(rng, n_terms=3, n_segments=4, blocks_per_seg=12)
    for q in (0.1, 0.5, 0.9):
        theta = float(np.quantile(ub, q)) * 2.0
        got = _wand_survival(terms, first, last, ub, theta)
        want = _survival_loop_reference(terms, first, last, ub, theta)
        # never prunes a block the exact bound keeps
        assert np.all(got | ~want), "vectorized kernel pruned an exact-kept block"
        # and it still prunes: not trivially all-True when the loop prunes a lot
        if want.sum() < len(want) // 2:
            assert got.sum() < len(got)


def test_single_term_prunes_by_own_ub():
    # one query term: no cross-term mass; survival is ub >= theta exactly
    terms = np.zeros(10, dtype=np.int64)
    first = np.arange(10, dtype=np.int64) * 10
    last = first + 5
    ub = np.linspace(0.1, 1.0, 10)
    got = _wand_survival(terms, first, last, ub, 0.55)
    assert np.array_equal(got, ub >= 0.55)


def test_microbench_large_group_no_quadratic_blowup():
    """10^4 blocks must complete in well under a second (the round-2 loop
    took tens of seconds here); correctness cross-checked on a sample."""
    import time

    rng = np.random.default_rng(7)
    terms, first, last, ub = _gen_blocks(
        rng, n_terms=4, n_segments=2, blocks_per_seg=1250, gap_scale=4
    )
    assert len(terms) == 10_000
    theta = float(np.quantile(ub, 0.9)) * 2.5
    t0 = time.monotonic()
    got = _wand_survival(terms, first, last, ub, theta)
    dt = time.monotonic() - t0
    assert dt < 1.0, f"vectorized survival took {dt:.2f}s on 1e4 blocks"
    want = _survival_loop_reference(terms, first, last, ub, theta)
    assert np.all(got | ~want)


def test_wand_keeps_blocks_that_round_into_the_kth_class():
    """WAND prunes against the lower edge of theta's rounded-score class: a
    block whose upper bound is below theta but rounds to the same score
    still holds a doc of the k-boundary tie class, which the doc_id
    tie-break can rank first. One term, k=1: the probe scores blocks 0-3
    (theta = T = 2.0000004); block 4's only doc scores T' = 1.9999996 < T,
    both round to 2.0, and its doc_id 5 sorts before the probe's 100."""
    from geometric_aware_retrieval_v2_spark.operators.index import _score_blocks

    k1, b, avgdl = 1.2, 0.0, 1.0

    def weight(m):  # the kernel's tf weight at b = 0
        return m * (k1 + 1.0) / (m + k1 * (1.0 - b + b * 1.0 / avgdl))

    def mtf_for(y):  # invert weight(m) = y
        return y * k1 / ((k1 + 1.0) - y)

    mtf = np.array([mtf_for(2.0000004), 1e6, 1e6, 1e6, mtf_for(1.9999996)])
    w = np.array([weight(mtf[0]), 0.5, 0.5, 0.5, weight(mtf[4])])
    docs = np.array([100, 101, 102, 103, 5], dtype=np.int64)
    ones = np.ones(5)
    for use_wand in (True, False):
        got, scores, nb, nd = _score_blocks(
            ones, mtf, ones, docs, docs, np.full(5, 7, np.int64),
            np.ones(5, np.int64), np.arange(5), docs, w,
            k=1, k1=k1, b=b, avgdl=avgdl, use_wand=use_wand,
        )
        assert sorted(got.tolist()) == [5, 100] and scores.tolist() == [2.0, 2.0]
        assert nd == nb == 5
