"""Order statistics used by every figure the benchmark prints.

- ``median``: the true median; for an even count it is the mean of the two
  middle values (never the upper-middle element).
- ``quartiles``: first and third quartile with the same definition as
  ``statistics.quantiles(values, n=4)`` (the "exclusive" method), so a spread
  computed here matches one computed by any other Python tool.
- ``tail_percentile``: the highest percentile from a fixed ladder that still
  has at least ``min_beyond`` samples beyond it.
"""

from __future__ import annotations

import math
import statistics
from typing import Sequence

#: percentiles considered by ``tail_percentile``, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    s = sorted(values)
    n = len(s)
    mid = n // 2
    if n % 2:
        return float(s[mid])
    return (s[mid - 1] + s[mid]) / 2.0


def quartiles(values: Sequence[float]) -> tuple[float, float]:
    """(q1, q3) exactly as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = float(values[0]) if values else math.nan
        return v, v
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


def relative_spread(values: Sequence[float]) -> float:
    """(q3 - q1) / median — the run-to-run spread a bound is compared to."""
    q1, q3 = quartiles(values)
    m = median(values)
    return (q3 - q1) / m if m else math.inf


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (``p`` in 0..100) of the samples."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    if len(s) == 1:
        return float(s[0])
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def samples_beyond(n: int, p: float) -> float:
    """How many of ``n`` samples lie above the ``p``-th percentile."""
    return round(n * (100.0 - p) / 100.0, 9)


def tail_percentile(values: Sequence[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """(p, value) for the highest ladder percentile with at least
    ``min_beyond`` samples beyond it, or None when even the median has too
    few samples behind it."""
    n = len(values)
    for p in TAIL_LADDER:
        if samples_beyond(n, p) >= min_beyond:
            return p, percentile(values, p)
    return None
