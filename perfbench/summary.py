"""Percentiles, sample counts and ratios for benchmark results (no Spark)."""

from __future__ import annotations

import math

# A tail percentile is reported only when at least this many samples lie
# beyond it; with fewer the "tail" would be one or two unlucky calls.
TAIL_SAMPLES = 10
_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile ``p`` (0..100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0.0 <= p <= 100.0:
        raise ValueError(f"percentile out of range: {p}")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def highest_tail_percentile(n: int, beyond: int = TAIL_SAMPLES
                            ) -> float | None:
    """Highest percentile on the ladder with ``beyond`` samples above it
    among ``n``; None when even p75 is not supported."""
    for p in _LADDER:
        if n * (100.0 - p) / 100.0 >= beyond - 1e-9:  # 99.9 is inexact
            return p
    return None


def ratio(num: float, den: float) -> float:
    if den <= 0:
        raise ValueError(f"ratio with non-positive base {den}")
    return num / den


def geomean(values) -> float:
    """Geometric mean of positive ``values``: each one's share of change
    moves it alike, whatever its size."""
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError(f"geometric mean needs positive values: {xs}")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def timing_summary(name: str, values_s) -> dict:
    """Median and the highest supported tail of a list of seconds, in ms,
    with the sample count: ``{name_p50_ms, name_pNN_ms, name_n}``."""
    ms = [v * 1000.0 for v in values_s]
    out = {f"{name}_n": len(ms)}
    if not ms:
        return out
    out[f"{name}_p50_ms"] = median(ms)
    p = highest_tail_percentile(len(ms))
    if p is not None:
        out[f"{name}_p{p:g}_ms"] = percentile(ms, p)
    return out
