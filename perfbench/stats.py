"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math


def tail_percentile(values, cap: int = 90, min_beyond: int = 10, floor: int = 50):
    """The highest whole percentile ``p <= cap`` that leaves at least
    ``min_beyond`` samples strictly above its nearest-rank position, but
    never below ``floor`` (the median) when the sample is too small.

    Returns ``(p, value, n_beyond)``: with 100 samples this is the true
    p90 with 10 samples beyond it; with 20 samples it is the p50.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    p = floor
    for q in range(cap, floor - 1, -1):
        if n - math.ceil(q * n / 100) >= min_beyond:
            p = q
            break
    rank = max(1, math.ceil(p * n / 100))
    return p, xs[rank - 1], n - rank
