"""Compare an op's rows with its DuckDB twin's rows.

Scores are compared at 4 decimal places on both sides, as the repository's
oracle gate does. Top-k results get one allowance, the boundary-tie rule:
every twin rounds its scores before it cuts (``ROUND(score,4) ... ORDER BY
score DESC, docID``) while the Spark paths cut on the full score and round
afterwards, so two docs whose full scores differ but print the same at the
last kept score may be swapped at the cut. Such a result passes as a tie
only if

- both sides agree exactly on every row scored above the last 4-dp score,
- both sides return the same number of rows at that score, and
- the twin, asked for more rows, lists every engine row at that score.

Anything else is a mismatch.
"""

from __future__ import annotations

from collections.abc import Callable

OK, TIE, MISMATCH = "ok", "tie", "mismatch"


def _r4(rows) -> list[tuple[int, float]]:
    return sorted(((int(d), round(float(s), 4)) for d, s in rows), key=lambda r: (-r[1], r[0]))


def _more_at(twin_at: Callable[[int], list], k: int, last: float) -> list[tuple[int, float]]:
    """The twin's rows for a k large enough to list every row at ``last``."""
    while True:
        rows = _r4(twin_at(k))
        if len(rows) < k or rows[-1][1] < last:
            return rows
        k *= 4


def compare_topk(engine_rows, twin_rows, twin_at: Callable[[int], list]) -> str:
    """``engine_rows``/``twin_rows``: (docID, score) pairs of one top-k cut.
    ``twin_at(k)`` returns the twin's rows for another k; it is called only
    when the two sides differ."""
    e, t = _r4(engine_rows), _r4(twin_rows)
    if e == t:
        return OK
    if len(e) != len(t) or not t:
        return MISMATCH
    last = t[-1][1]
    if [r for r in e if r[1] > last] != [r for r in t if r[1] > last]:
        return MISMATCH
    at_last = {d for d, s in e if s == last}
    if len(at_last) != sum(1 for r in t if r[1] == last) or any(s < last for _, s in e):
        return MISMATCH
    listed = {d for d, s in _more_at(twin_at, 4 * len(t), last) if s == last}
    return TIE if at_last <= listed else MISMATCH


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    return v


def compare_rows(engine_rows, twin_rows) -> str:
    """Order-insensitive equality of whole rows, floats at 6 dp (the values
    are already rounded to 4 dp on both sides)."""
    e = sorted(tuple(_norm(v) for v in r) for r in engine_rows)
    t = sorted(tuple(_norm(v) for v in r) for r in twin_rows)
    return OK if e == t else MISMATCH
