"""Pure statistics helpers: percentiles, the tail-percentile rule, spreads."""

from __future__ import annotations

import math
import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# A tail percentile is only reported when at least this many samples lie
# beyond it; with fewer samples the estimate is one or two outliers.
TAIL_SAMPLES = 10
TAIL_TARGET = 0.90


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n: int) -> float:
    """The highest quantile, capped at ``TAIL_TARGET``, with at least
    ``TAIL_SAMPLES`` samples beyond it. Below 2 × TAIL_SAMPLES samples no
    quantile above the median qualifies, and the median is reported."""
    if n <= 0:
        raise ValueError("no samples")
    return max(0.5, min(TAIL_TARGET, 1.0 - TAIL_SAMPLES / n))


def tail(values: list[float]) -> tuple[float, float]:
    """(quantile used, its value) under the tail rule."""
    q = tail_quantile(len(values))
    return q, percentile(values, q)


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``
    gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf


def window_drift(latencies: list[float], window: int) -> float:
    """Last window's median ÷ first window's median over a timed phase:
    near 1 when the phase is steady, above 1 when ops get slower (a DML
    table still growing), below 1 when the run is still warming up."""
    w = max(1, min(window, len(latencies) // 2))
    first = statistics.median(latencies[:w])
    last = statistics.median(latencies[-w:])
    return last / first


def warmed_up(window_medians: list[float], tolerance: float) -> bool:
    """True once the latest rolling-window median is no longer falling:
    it is within ``tolerance`` (a share) of the lowest earlier window."""
    if len(window_medians) < 2:
        return False
    return window_medians[-1] >= min(window_medians[:-1]) * (1.0 - tolerance)
