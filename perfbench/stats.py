"""Latency summaries: percentiles, the tail rule, and run-to-run spread."""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail


def percentile(values: list[float], p: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with ``TAIL_BEYOND``
    samples beyond it: the sample with exactly that many larger ones.
    None unless that percentile is at least the median."""
    n = len(values)
    if n < 2 * TAIL_BEYOND:
        return None
    xs = sorted(values)
    return 100.0 * (n - TAIL_BEYOND) / n, xs[n - TAIL_BEYOND - 1]


def summarize(values: list[float]) -> dict:
    """{n, p50, tail, tail_pct} for one class of latencies (``tail`` is None
    when there are too few samples for one)."""
    if not values:
        return {"n": 0, "p50": None, "tail": None, "tail_pct": None}
    t = tail(values)
    return {
        "n": len(values),
        "p50": percentile(values, 50.0),
        "tail": t[1] if t else None,
        "tail_pct": t[0] if t else None,
    }


def spread(values: list[float]) -> dict:
    """Median, quartiles and the quartile distance as a share of the median
    (the figure a metric's bound is compared against)."""
    med = statistics.median(values)
    if len(values) < 2:
        q1 = q3 = values[0]
    else:
        q1, _, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_share": (q3 - q1) / med if med else None,
    }
