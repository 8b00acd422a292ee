"""Sample statistics with the percentile rule: a percentile is reported
only when at least ten samples lie beyond it."""

from __future__ import annotations

import math

MIN_BEYOND = 10


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p``-th percentile of n."""
    return n - math.ceil(p / 100 * n)


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile; refuses one without ``MIN_BEYOND``
    samples beyond it (p90 needs at least 100 samples)."""
    n = len(samples)
    if n == 0 or beyond(n, p) < MIN_BEYOND:
        raise ValueError(
            f"p{p:g} of {n} samples has {max(0, beyond(n, p)) if n else 0} "
            f"beyond it; need {MIN_BEYOND}"
        )
    return sorted(samples)[max(0, math.ceil(p / 100 * n) - 1)]


def highest_supported(samples: list[float], candidates=(99, 95, 90, 75, 50)):
    """``(p, value)`` for the highest candidate percentile the sample
    supports, or None when even the median has too few samples beyond."""
    for p in candidates:
        try:
            return p, percentile(samples, p)
        except ValueError:
            continue
    return None
