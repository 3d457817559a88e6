"""Summary statistics shared by the workloads and the spread check."""

from __future__ import annotations

import math
import statistics

#: a tail percentile must leave at least this many samples above it
TAIL_BEYOND = 10


def tail(values) -> tuple[float, float]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples
    beyond it: ``(value, percentile)``. With ``n`` sorted samples that
    is the ``(n - TAIL_BEYOND)``-th smallest, at percentile
    ``100 * (n - TAIL_BEYOND) / n``. Raises when that percentile would
    lie below the median (fewer than ``2 * TAIL_BEYOND`` samples)."""
    xs = sorted(values)
    k = len(xs) - TAIL_BEYOND
    if k < TAIL_BEYOND:
        raise ValueError(f"{len(xs)} samples: a tail needs at least "
                         f"{2 * TAIL_BEYOND}")
    return xs[k - 1], 100.0 * k / len(xs)


def median(values) -> float:
    return statistics.median(values)


def geomean(values) -> float:
    xs = list(values)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def spread(values) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
