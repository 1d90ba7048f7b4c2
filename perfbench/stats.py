"""Order statistics for op latencies."""

from __future__ import annotations

import math
import statistics

#: A percentile is reported only with at least this many samples above it.
MIN_TAIL = 10


def percentile(values: list[float], q: float) -> float:
    """The ``q``-th percentile (nearest rank) of ``values``.

    Refuses (``ValueError``) when fewer than ``MIN_TAIL`` samples lie
    above the rank, so a tail is never read off a handful of samples:
    p80 needs at least 50 samples.
    """
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    n = len(values)
    rank = math.ceil(q / 100 * n)
    if n - rank < MIN_TAIL:
        raise ValueError(
            f"p{q:g} of {n} samples leaves {n - rank} above it; need {MIN_TAIL}"
        )
    return sorted(values)[rank - 1]


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (the steadiness figure for repeated runs)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
