"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

# Percentiles a tail is reported at, highest first.
TAIL_PERCENTILES = (99, 95, 90, 75, 50)
MIN_BEYOND = 10


def median(values) -> float | None:
    values = list(values)
    return statistics.median(values) if values else None


def nearest_rank(values, q: float) -> tuple[float, int]:
    """The nearest-rank ``q``-th percentile of ``values`` and how many
    samples lie beyond it (rank above it)."""
    s = sorted(values)
    idx = max(0, math.ceil(q / 100 * len(s)) - 1)
    return s[idx], len(s) - 1 - idx


def tail_percentile(values) -> tuple[int, float] | None:
    """``(q, value)`` for the highest percentile in ``TAIL_PERCENTILES``
    that has at least ``MIN_BEYOND`` samples beyond it; None when even
    the median has fewer (under 20 samples)."""
    if not values:
        return None
    for q in TAIL_PERCENTILES:
        value, beyond = nearest_rank(values, q)
        if beyond >= MIN_BEYOND:
            return q, value
    return None


def passes_for_tail(n_per_pass: int, q: int) -> int:
    """Passes of ``n_per_pass`` samples needed before the ``q``-th
    percentile of the pooled samples has ``MIN_BEYOND`` beyond it."""
    p = 1
    while nearest_rank(range(n_per_pass * p), q)[1] < MIN_BEYOND:
        p += 1
    return p
