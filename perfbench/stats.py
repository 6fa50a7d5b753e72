"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics


def tail(samples: list[float]) -> tuple[int, float] | None:
    """The highest integer percentile that leaves at least ten samples
    beyond it, as ``(percentile, value)``, by the nearest-rank rule: the
    p-th percentile of n samples is the ceil(p·n/100)-th smallest.
    ``None`` below eleven samples, where no percentile has ten beyond it."""
    n = len(samples)
    if n < 11:
        return None
    p = 100 * (n - 10) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, sorted(samples)[rank - 1]


def median(samples: list[float]) -> float:
    return statistics.median(samples) if samples else 0.0


def spread(values: list[float]) -> float:
    """Distance between the first and third quartile, as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else math.inf
