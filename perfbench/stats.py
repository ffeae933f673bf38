"""Summary statistics for the benchmark's timings.

A timing is reported as its median plus the highest percentile that
still has at least ten samples beyond it (none below 20 samples), with
the sample count, so no tail figure is read off a handful of samples.
"""

from __future__ import annotations

import statistics

TAILS = (99.9, 99.0, 95.0, 90.0, 75.0)  # highest first
MIN_BEYOND = 10


def tail_percentile(n: int) -> float | None:
    """Highest of :data:`TAILS` with at least ten of ``n`` samples above it."""
    for p in TAILS:
        if round(n * (100.0 - p), 6) >= MIN_BEYOND * 100.0:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Linearly interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values: list[float]) -> dict:
    """``{"p50": .., "samples": n}``, plus ``"p<tail>"`` when allowed."""
    out = {"p50": statistics.median(values), "samples": len(values)}
    tail = tail_percentile(len(values))
    if tail is not None:
        out[f"p{tail:g}"] = percentile(values, tail)
    return out
