"""Pure-Python last-write-wins model of a façade var, and the checks that
compare the façade's answers against it.

The façade keeps one row per slot: the row inserted last wins (within a
batch, the later position wins).  ``select`` shows every slot of the
window, never-written slots as ``(slot, 0, None)``; ``get_last`` is the
newest slot whose winner carries the valid bit; ``timerange(step=3600)``
is served from the 1 h aggregate as of the var's last
``update_all_aggregates`` (from the raw rows before the first one) — the
average of the valid winners per hour.
"""

from __future__ import annotations

import math

ROW_VALID = 1


def slot_of(tse: int, step: int) -> int:
    return tse - tse % step


class VarModel:
    def __init__(self, step: int):
        self.step = step
        self.rows: dict[int, tuple[int, int, float | None]] = {}
        # Rows as of the last update_all_aggregates; None until the first
        # one, when timerange falls back to the raw rows.
        self.aggregated: dict[int, tuple[int, int, float | None]] | None = None

    def insert(self, rows) -> None:
        for tse, value, flags in rows:
            self.rows[slot_of(tse, self.step)] = (tse, flags, value)

    def update_aggregates(self) -> None:
        self.aggregated = dict(self.rows)

    def select(self, begin: int, end: int) -> list[tuple]:
        lo, hi = slot_of(begin, self.step), slot_of(end - 1, self.step)
        return [
            self.rows.get(s, (s, 0, None)) + (s,)
            for s in range(lo, hi + 1, self.step)
        ]

    def get_last(self) -> tuple | None:
        valid = [s for s, r in self.rows.items() if r[1] & ROW_VALID]
        if not valid:
            return None
        s = max(valid)
        return self.rows[s] + (s,)

    def timerange(self, begin: int, end: int, step: int) -> list[tuple]:
        """``(slot, average, n)`` per requested-step bucket with at least
        one valid winner, from the last aggregated snapshot."""
        lo = slot_of(begin, step)
        hi = slot_of(end - 1, step) + step
        sums: dict[int, list] = {}
        rows = self.rows if self.aggregated is None else self.aggregated
        for s, (_tse, flags, value) in rows.items():
            if flags & ROW_VALID and lo <= s < hi:
                acc = sums.setdefault(slot_of(s, step), [0.0, 0])
                acc[0] += value
                acc[1] += 1
        return sorted((b, total / n, n) for b, (total, n) in sums.items())


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-12, abs_tol=0.0)
    return a == b


def check_select(model: VarModel, begin: int, end: int, got) -> list[str]:
    """``got``: façade ``select`` rows ``(tse, flags, value, slot)``."""
    want = model.select(begin, end)
    got = [(r["tse"], r["flags"], r["value"], r["slot"]) for r in got]
    if len(got) != len(want):
        return [f"select [{begin},{end}): {len(got)} slots, model has {len(want)}"]
    bad = [(g, w) for g, w in zip(got, want) if not all(map(_same, g, w))]
    if bad:
        return [f"select [{begin},{end}): {len(bad)} slots differ, first {bad[0]}"]
    return []


def check_get_last(model: VarModel, got) -> list[str]:
    want = model.get_last()
    g = (got["tse"], got["flags"], got["value"], got["slot"])
    if want is None or not all(map(_same, g, want)):
        return [f"get_last: got {g}, model {want}"]
    return []


def check_timerange(model: VarModel, begin: int, end: int, step: int, got) -> list[str]:
    want = model.timerange(begin, end, step)
    got = sorted((r["slot"], r["value"], r["n"]) for r in got)
    if len(got) != len(want) or not all(
        all(map(_same, g, w)) for g, w in zip(got, want)
    ):
        return [
            f"timerange [{begin},{end}) step {step}: {len(got)} buckets vs "
            f"model {len(want)}; first diff "
            f"{next(((g, w) for g, w in zip(got, want) if g != w), None)}"
        ]
    return []
