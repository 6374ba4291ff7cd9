"""Negative controls for the per-op reference check, and the query
generator's determinism. Pure Python: ``python -m pytest perfbench -q``."""

from __future__ import annotations

from perfbench import check
from perfbench.queries import TEMPLATES, QueryGen, QueryPool, buckets

# reference top-4 for qid 7: two distinct scores, then a tie at the
# boundary broken by doc_id asc
WANT = [
    (7, 1, 50, 2.5),
    (7, 2, 11, 1.25),
    (7, 3, 3, 0.5),
    (7, 4, 8, 0.5),
]


def test_identical_rows_pass():
    assert check.diff_query(7, list(reversed(WANT)), WANT) is None


def test_doc_swapped_at_rank_k_is_flagged_wrong():
    got = WANT[:3] + [(7, 4, 999, 0.5)]  # doc 999 does not score 0.5
    m = check.diff_query(7, got, WANT)
    assert m is not None
    assert m.first_got == (7, 4, 999, 0.5) and m.first_want == (7, 4, 8, 0.5)
    assert m.claims == [(7, 999, (0.5,))]
    # the reference scorer gives doc 999 another score (or none at all)
    assert check.resolve(m, {(7, 999): (0.125,)}).kind == "wrong"
    m = check.diff_query(7, got, WANT)
    assert check.resolve(m, {}).kind == "wrong"


def test_tie_order_only_difference_is_flagged():
    # doc 9 really does tie at 0.5 but loses the doc_id-asc tie-break to 8
    got = WANT[:3] + [(7, 4, 9, 0.5)]
    m = check.diff_query(7, got, WANT)
    assert m is not None  # the op fails
    assert check.resolve(m, {(7, 9): (0.5,)}).kind == "tie_order"


def test_tie_reordered_inside_group_is_flagged():
    got = WANT[:2] + [(7, 3, 8, 0.5), (7, 4, 3, 0.5)]
    m = check.diff_query(7, got, WANT)
    assert m is not None and m.kind == "tie_order" and m.claims == []


def test_score_or_length_difference_is_wrong():
    assert check.diff_query(7, WANT[:3], WANT).kind == "wrong"
    got = [WANT[0], (7, 2, 11, 1.250001)] + WANT[2:]
    assert check.diff_query(7, got, WANT).kind == "wrong"


def test_flagship_rows_compare_every_score_column():
    want = [(1, 1, 4, 3.0, 0.1), (1, 2, 5, 2.0, 0.2)]
    got = [(1, 1, 4, 3.0, 0.1), (1, 2, 5, 2.0, 0.25)]
    assert check.diff_query(1, got, want).kind == "wrong"


VOCAB = [(f"t{i:03d}", 1000 - i) for i in range(400)]


def test_generator_is_seeded():
    a = QueryGen(VOCAB, 5).batch(50)
    assert a == QueryGen(VOCAB, 5).batch(50)
    assert a != QueryGen(VOCAB, 6).batch(50)


def test_generator_shapes():
    b = buckets(VOCAB)
    assert b["hot"] == ["t000", "t001", "t002"]
    assert len(b["rare"]) == 200
    known = {t for t, _ in VOCAB}
    texts = [t for _, t in QueryGen(VOCAB, 1).batch(len(TEMPLATES) * 3)]
    for shape, text in zip(TEMPLATES * 3, texts):
        words = text.split()
        assert len(words) == len(shape)
        for kind, w in zip(shape, words):
            assert (w in b[kind]) if kind in b else (w not in known if kind == "oov" else True)
    assert texts[0].split()[0] in b["hot"] and len(texts[0].split()) == 1
    dup = texts[TEMPLATES.index(("mid", "same", "rare"))].split()
    assert dup[0] == dup[1]


def test_pool_is_seeded_and_keeps_the_shape_cycle():
    pool = [t for _, t in QueryGen(VOCAB, 0).batch(len(TEMPLATES) * 4)]
    a = QueryPool(pool, 5).batch(len(TEMPLATES) * 8)
    assert a == QueryPool(pool, 5).batch(len(TEMPLATES) * 8)
    assert a != QueryPool(pool, 6).batch(len(TEMPLATES) * 8)
    for i, (_, text) in enumerate(a):
        # every draw is a pool query of the shape the cycle asks for
        assert text in pool[i % len(TEMPLATES)::len(TEMPLATES)]
    # a shape's queries repeat only once all of them were served
    hot = [t for i, (_, t) in enumerate(a) if i % len(TEMPLATES) == 0]
    assert sorted(hot[:4]) == sorted(pool[::len(TEMPLATES)]) and hot[4:] == hot[:4]
