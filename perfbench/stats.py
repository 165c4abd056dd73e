"""Summary statistics shared by every workload (pure Python, no Spark).

Timings are reported as a median plus the highest percentile that
still has at least ten samples beyond it, always with the sample
count, so a tail figure never rests on one or two slow requests.
"""

from __future__ import annotations

import math

#: candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the NumPy default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (k - lo))


def tail_percentile(n: int) -> float | None:
    """Highest percentile in :data:`TAIL_PERCENTILES` with at least
    ``MIN_BEYOND`` of ``n`` samples strictly beyond it, else None."""
    for p in TAIL_PERCENTILES:
        # in tenths of a percent, so 99.9 is exact
        if n * (1000 - round(p * 10)) >= MIN_BEYOND * 1000:
            return p
    return None


def summarize_ms(samples_s: list[float]) -> dict:
    """Median and rule-chosen tail of latencies given in seconds,
    reported in milliseconds with the sample count."""
    ms = [s * 1000.0 for s in samples_s]
    out = {"n": len(ms), "p50_ms": percentile(ms, 50.0) if ms else None}
    p = tail_percentile(len(ms))
    out["tail_pct"] = p
    out["tail_ms"] = percentile(ms, p) if p is not None else None
    return out

