"""Summary statistics shared by the runner and the steadiness tool."""

from __future__ import annotations

import statistics


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs, beyond: int = 10) -> tuple:
    """(value, percentile) of the highest percentile with at least
    ``beyond`` samples above it (nearest rank).  With ``beyond`` samples or
    fewer no such percentile exists; the maximum is returned as p100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0
    if n <= beyond:
        return float(s[-1]), 100.0
    k = n - beyond - 1
    return float(s[k]), 100.0 * (k + 1) / n


def spread(xs) -> float:
    """inter-quartile distance as a share of the median."""
    q = statistics.quantiles(xs, n=4)
    m = statistics.median(xs)
    return (q[2] - q[0]) / m if m else 0.0
