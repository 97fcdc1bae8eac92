"""Order statistics for the benchmark's reports."""

from __future__ import annotations

import math
import statistics

#: a tail percentile is reported only when at least this many samples
#: lie beyond it; with fewer, one slow sample would be the whole tail
TAIL_MIN_BEYOND = 10

#: the percentiles a tail may be reported at, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return float(s[rank - 1])


def tail(values: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> dict:
    """The highest ladder percentile with ``min_beyond`` samples above it.

    Returns ``{"percentile": p, "value": v, "n": n}``, or, when even the
    median has fewer than ``min_beyond`` samples beyond it,
    ``{"percentile": None, "value": None, "n": n, "omitted": reason}``.
    """
    n = len(values)
    for p in TAIL_LADDER:
        beyond = n - max(1, math.ceil(p / 100.0 * n))
        if beyond >= min_beyond:
            return {"percentile": p, "value": percentile(values, p), "n": n}
    return {
        "percentile": None,
        "value": None,
        "n": n,
        "omitted": f"fewer than {min_beyond} samples beyond any percentile",
    }
