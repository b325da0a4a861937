"""Summary statistics for the benchmark's timings.

Percentiles use linear interpolation between order statistics (numpy's
and Spark's exact ``percentile`` definition). A percentile is reported
only when at least ``MIN_TAIL`` samples lie beyond it: p90 needs 100
samples, p99 needs 1000. Below that the tail is a handful of points and
moves with any single slow call.
"""

from __future__ import annotations

import math

MIN_TAIL = 10
TAIL_CANDIDATES = (99.9, 99.0, 90.0)


def percentile(values, p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0 <= p <= 100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0 <= p <= 100:
        raise ValueError(f"percentile {p} outside [0, 100]")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int) -> float | None:
    """Highest of p99.9/p99/p90 with at least ``MIN_TAIL`` of ``n``
    samples beyond it, or None when even p90 has fewer."""
    for p in TAIL_CANDIDATES:
        # round() absorbs float error in n * (1 - p/100), e.g. 100 * 0.1
        if round(n * (100.0 - p) / 100.0, 6) >= MIN_TAIL:
            return p
    return None


def summarize(values) -> dict:
    """Median, the highest reportable tail percentile, and the count."""
    values = list(values)
    out = {"n": len(values)}
    if not values:
        return out
    out["p50"] = median(values)
    tail = tail_percentile(len(values))
    if tail is not None:
        out[f"p{tail:g}"] = percentile(values, tail)
    return out

