"""Summary statistics shared by the benchmark and its self-tests."""

from __future__ import annotations

import math


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    q percent of the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return float(s[rank - 1])


def median(values) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of an empty sample")
    n = len(s)
    mid = n // 2
    return float(s[mid]) if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest whole percentile that leaves at least `beyond`
    samples strictly above it in a sample of n, or None when the
    sample is too small to support any percentile above the median."""
    if n <= 0:
        return None
    best = None
    for q in range(50, 100):
        rank = max(1, math.ceil(q / 100.0 * n))
        if n - rank >= beyond:
            best = q
    return best


def summarize(values, beyond: int = 10) -> dict:
    """Median plus the highest percentile with >= `beyond` samples
    beyond it, with the sample count."""
    out = {"n": len(values)}
    if not values:
        return out
    out["p50"] = median(values)
    q = tail_percentile(len(values), beyond)
    if q is not None and q > 50:
        out[f"p{q}"] = percentile(values, q)
    return out
