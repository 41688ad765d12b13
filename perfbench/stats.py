"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math

#: candidate tail percentiles, highest first
_TAILS = (99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least ten of ``n``
    samples beyond it, or None when even the median has fewer."""
    for p in _TAILS:
        if n * (100.0 - p) / 100.0 >= 10:
            return p
    return None


def percentile(values, p: float, weights=None) -> float:
    """Nearest-rank percentile of ``values``; ``weights`` counts each
    value that many times (a segment's latency for each of its rows)."""
    if weights is None:
        weights = [1] * len(values)
    pairs = sorted((v, w) for v, w in zip(values, weights) if w > 0)
    if not pairs:
        raise ValueError("percentile of no samples")
    total = sum(w for _, w in pairs)
    rank = max(1, math.ceil(p / 100.0 * total))
    seen = 0
    for v, w in pairs:
        seen += w
        if seen >= rank:
            return v
    return pairs[-1][0]


def geomean(values, weights=None) -> float:
    """Geometric mean; every value must be positive."""
    if weights is None:
        weights = [1] * len(values)
    total = sum(weights)
    if total <= 0:
        raise ValueError("geomean of no samples")
    if any(v <= 0 for v, w in zip(values, weights) if w > 0):
        raise ValueError("geomean needs positive values")
    return math.exp(
        sum(w * math.log(v) for v, w in zip(values, weights) if w > 0) / total
    )
