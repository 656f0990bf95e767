"""Pure helpers for the benchmark's numbers: percentiles, the count of
samples beyond one (a tail percentile counts only with at least ten
beyond it in every run), medians and quartile spread."""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, `q` in (0, 1]: the smallest sample with
    at least a share `q` of all samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 < q <= 1.0:
        raise ValueError(f"q must lie in (0, 1], got {q}")
    ordered = sorted(values)
    return ordered[max(math.ceil(q * len(ordered)) - 1, 0)]


def beyond(n: int, q: float) -> int:
    """How many of `n` samples lie beyond the nearest-rank `q` percentile."""
    return n - math.ceil(q * n) if n else 0


def median(values: list[float]) -> float:
    return statistics.median(values)


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with the quartiles `statistics.quantiles(values, n=4)`
    gives."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
