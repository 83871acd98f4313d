"""Summary statistics with the benchmark's reporting rule: a percentile is
reported only when at least ``MIN_BEYOND`` samples lie beyond it."""

from __future__ import annotations

import math

MIN_BEYOND = 10


def samples_beyond(n: int, q: float) -> int:
    """Samples ranked strictly above the nearest-rank ``q`` percentile."""
    return n - math.ceil(q * n)


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank percentile, or None when fewer than MIN_BEYOND samples
    lie beyond it (p50 needs n >= 20, p90 needs n >= 100)."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"percentile rank must be in (0, 1), got {q}")
    n = len(values)
    if n == 0 or samples_beyond(n, q) < MIN_BEYOND:
        return None
    return sorted(values)[math.ceil(q * n) - 1]


def mean(values: list[float]) -> float | None:
    return sum(values) / len(values) if values else None


def summary(values: list[float]) -> dict:
    """n, mean, and the percentiles the rule allows (None otherwise)."""
    return {
        "n": len(values),
        "mean": mean(values),
        "p50": percentile(values, 0.5),
        "p90": percentile(values, 0.9),
    }
