"""Statistics used by the benchmark: percentiles, failure ratio, layer
self-time, and the run-to-run spread the acceptance check uses.

Kept free of Spark and numpy so the unit tests run in milliseconds.
"""

from __future__ import annotations

import math
import statistics

#: A percentile is reported only when at least this many samples lie
#: beyond it: p50 needs 20 samples, p90 needs 100, p99 needs 1000.
MIN_BEYOND = 10


def min_samples(q: float) -> int:
    """Smallest sample count for which percentile ``q`` (0 < q < 1) has
    at least MIN_BEYOND samples beyond its rank."""
    n = math.ceil(MIN_BEYOND / (1.0 - q) - 1e-9)
    while n - math.ceil(q * n) < MIN_BEYOND:
        n += 1
    return n


def percentile(values: list[float], q: float) -> float | None:
    """Percentile ``q`` of ``values``, interpolated linearly between the two
    order statistics around rank q * (n - 1) (so q = 0.5 is the plain
    median), or None when fewer than MIN_BEYOND samples lie beyond the
    nearest rank (the tail is then too thin to say anything about)."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must be in (0, 1), got {q}")
    n = len(values)
    if n - math.ceil(q * n) < MIN_BEYOND:
        return None
    xs = sorted(values)
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def fail_ratio(failed: int, attempted: int) -> float:
    """Ops that raised or failed their output check, over ops attempted."""
    if attempted < 1:
        raise ValueError("no op was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def self_time(total: float, parts: list[float]) -> float:
    """Time an op spends outside the layers timed separately: the op's
    wall time minus the sum of its parts. May be negative when the fused
    op is cheaper than its parts run one by one."""
    return total - sum(parts)


def median(values: list[float]) -> float:
    return statistics.median(values)


def spread(values: list[float]) -> float:
    """Inter-quartile distance over the median, with the quartiles of
    ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
