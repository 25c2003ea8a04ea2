"""Result comparison shared by the workloads' correctness checks."""

from __future__ import annotations

import datetime as dt
import math

#: Relative tolerance for floating-point cells (sums accumulate in a
#: different order in Spark and DuckDB).
REL_TOL = 1e-9


def _cell_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= REL_TOL * max(1.0, abs(b))
    if isinstance(a, dt.datetime) and isinstance(b, dt.datetime):
        return a.replace(tzinfo=None) == b.replace(tzinfo=None)
    return a == b


def rows_equal(got: list, want: list) -> bool:
    """Ordered row-by-row equality with a float tolerance."""
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_cell_equal(a, b) for a, b in zip(g, w))
        for g, w in zip(got, want))


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return repr(v)


def unordered_equal(got: list, want: list) -> bool:
    """Multiset equality with a float tolerance: both sides are sorted on
    a normalized key, then compared cell by cell."""
    key = lambda r: tuple(_norm(v) for v in r)  # noqa: E731
    return rows_equal(sorted(got, key=key), sorted(want, key=key))
