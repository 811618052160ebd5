"""Order statistics for the benchmark's latency and per-round samples."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (0 < q < 1) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(
    values: list[float], q: float, min_beyond: int = 10
) -> float | None:
    """The ``q``-quantile, or None when fewer than ``min_beyond`` samples
    lie strictly above it: a tail percentile read off a handful of
    samples is one sample's noise, not a property of the distribution."""
    if not values:
        return None
    p = percentile(values, q)
    beyond = sum(1 for v in values if v > p)
    return p if beyond >= min_beyond else None


def samples_needed(q: float, min_beyond: int = 10) -> int:
    """Smallest sample count for which a ``q``-quantile can have
    ``min_beyond`` distinct samples above it."""
    return math.ceil(round(min_beyond / (1.0 - q), 9))
