"""Summary statistics with the benchmark's reporting rule: a timing is a
median plus the highest percentile that still has at least ten samples
beyond it, reported together with the sample count."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
# the tail percentiles worth naming, highest first
TAILS = (99.9, 99, 95, 90, 75)


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile (the value at rank ceil(p/100 * n))."""
    xs = sorted(samples)
    return xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]


def reportable(n: int, p: float) -> bool:
    """True when percentile ``p`` of ``n`` samples has >= 10 beyond it."""
    return n - math.ceil(p / 100.0 * n) >= MIN_BEYOND


def tail(samples: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest of :data:`TAILS` that is reportable, or
    None when even p75 would have fewer than ten samples beyond it."""
    for p in TAILS:
        if reportable(len(samples), p):
            return p, percentile(samples, p)
    return None


def summary(samples: list[float]) -> dict:
    out = {"n": len(samples)}
    if samples:
        out["p50"] = statistics.median(samples)
        t = tail(samples)
        if t is not None:
            out[f"p{t[0]:g}"] = t[1]
    return out
