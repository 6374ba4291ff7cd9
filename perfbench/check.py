"""Per-operation comparison of engine rows against the exact reference.

Rows are tuples ``(qid, rank, doc_id, *scores)`` after the engine's own
6-decimal rounding. An operation passes only when its full sorted tuple
list equals the reference's. Any difference fails the operation.

A failed operation is also classified, so the run can tell a wrong answer
from the known tie-order defect:

* ``tie_order``: every rank carries the reference's scores, and the
  doc_ids differ only inside groups of equal rounded score, so the result
  breaks the ``doc_id asc`` tie-break but no score is wrong. A doc_id that
  the reference does not return must be confirmed to have the claimed
  score by the reference scorer (``claims`` / ``resolve``) before the
  mismatch counts as tie order.
* ``wrong``: anything else (a missing or extra rank, a different score, or
  a swapped-in doc_id whose real score differs).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from itertools import groupby

Row = tuple


@dataclass
class Mismatch:
    qid: int
    kind: str  # "tie_order" | "wrong"
    first_got: Row | None
    first_want: Row | None
    # (qid, doc_id, claimed scores) the reference must confirm
    claims: list[tuple] = field(default_factory=list)


def _first_diff(got: list[Row], want: list[Row]) -> tuple[Row | None, Row | None]:
    for g, w in zip(got, want):
        if g != w:
            return g, w
    n = min(len(got), len(want))
    return (got[n] if len(got) > n else None, want[n] if len(want) > n else None)


def diff_query(qid: int, got: list[Row], want: list[Row]) -> Mismatch | None:
    """Compare one query's rows; ``None`` when they are identical."""
    got, want = sorted(got), sorted(want)
    if got == want:
        return None
    g0, w0 = _first_diff(got, want)
    wrong = Mismatch(qid, "wrong", g0, w0)
    if len(got) != len(want):
        return wrong
    if [(r[1], r[3:]) for r in got] != [(r[1], r[3:]) for r in want]:
        return wrong
    claims = []
    # rows are in rank order with identical score columns, so equal-score
    # runs line up one to one between the two lists
    for _, grp in groupby(zip(got, want), key=lambda gw: gw[1][3:]):
        pairs = list(grp)
        g_ids = {g[2] for g, _ in pairs}
        w_ids = {w[2] for _, w in pairs}
        claims += [(qid, g[2], g[3:]) for g, _ in pairs if g[2] not in w_ids]
        if len(g_ids) != len(pairs):
            return wrong  # a doc_id repeated inside one result
    return Mismatch(qid, "tie_order", g0, w0, claims)


def resolve(m: Mismatch, confirmed: dict[tuple[int, int], tuple]) -> Mismatch:
    """Demote a ``tie_order`` mismatch to ``wrong`` unless the reference
    scorer confirmed every claimed (qid, doc_id) score."""
    if m.kind == "tie_order" and any(
        confirmed.get((q, d)) != s for q, d, s in m.claims
    ):
        m.kind = "wrong"
    return m


def by_qid(rows: list[Row]) -> dict[int, list[Row]]:
    out: dict[int, list[Row]] = {}
    for r in rows:
        out.setdefault(r[0], []).append(r)
    return out
