"""Order statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail_percentile(values, beyond: int = 10) -> tuple[int, float] | None:
    """The highest whole percentile p that still has at least ``beyond``
    samples above it, with its nearest-rank value; None when the sample
    count is too small for any percentile to qualify."""
    n = len(values)
    if n <= beyond:
        return None
    s = sorted(values)
    for p in range(99, -1, -1):
        rank = max(1, math.ceil(p * n / 100))
        if n - rank >= beyond:
            return p, s[rank - 1]
    return None
