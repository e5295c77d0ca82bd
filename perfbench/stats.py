"""Percentiles with the sample support the benchmark requires.

A percentile is reported only when at least ``MIN_BEYOND`` samples lie
beyond it, so p90 needs 100 samples; the median is always reported.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
TAIL_QUANTILES = (0.99, 0.95, 0.9, 0.75)


def supported(n: int, q: float, min_beyond: int = MIN_BEYOND) -> bool:
    """True when ``n`` samples leave at least ``min_beyond`` above quantile ``q``."""
    return n * (1.0 - q) >= min_beyond - 1e-9


def quantile(samples: list[float], q: float) -> float:
    """Linear-interpolated quantile ``q`` in [0, 1] of ``samples``."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def mix_median(samples: list[tuple[str, float]]) -> float:
    """Median op time of a mix: each op kind's median, combined by geometric
    mean.  The plain median of a mix of kinds jumps between kinds as their
    order near the middle flips; this moves smoothly with every kind."""
    by_kind: dict[str, list[float]] = {}
    for kind, s in samples:
        by_kind.setdefault(kind, []).append(s)
    if not by_kind:
        raise ValueError("no samples")
    return math.exp(statistics.fmean(math.log(median(xs)) for xs in by_kind.values()))


def tail(samples: list[float]) -> tuple[float, float] | None:
    """(q, value) for the highest tail quantile the samples support, else None."""
    for q in TAIL_QUANTILES:
        if supported(len(samples), q):
            return q, quantile(samples, q)
    return None
