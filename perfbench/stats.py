"""Summary statistics that never divide by zero.

Every function here returns ``None`` where the inputs cannot support the
figure asked for (no samples, a zero or non-finite denominator). Callers decide what a missing figure means;
nothing is rounded, so values keep all their digits.
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Mapping


def _finite(xs: Iterable[float]) -> list[float]:
    return [float(x) for x in xs if x is not None and math.isfinite(x)]


def median(xs: Iterable[float]) -> float | None:
    vals = _finite(xs)
    return statistics.median(vals) if vals else None


def ratio(num: float | None, den: float | None) -> float | None:
    """num / den, or None when either side is missing, non-finite, or the
    denominator is not strictly positive (a DuckDB median that rounds to
    0 must not become a ZeroDivisionError or an infinite ratio)."""
    if num is None or den is None:
        return None
    if not (math.isfinite(num) and math.isfinite(den)) or den <= 0:
        return None
    return num / den


def geomean(xs: Iterable[float | None]) -> float | None:
    """Geometric mean of the strictly positive finite values; None if there
    are none. Zero, negative and missing values are skipped, not clamped."""
    vals = [x for x in _finite(x for x in xs if x is not None) if x > 0]
    if not vals:
        return None
    return math.exp(sum(math.log(x) for x in vals) / len(vals))


def sum_of_medians(samples: Mapping[str, Iterable[float]]) -> float | None:
    """Sum over keys of each key's median; None if any key has no sample,
    because a total that silently drops a query is not the same total."""
    meds = [median(v) for v in samples.values()]
    if not meds or any(m is None for m in meds):
        return None
    return sum(meds)
