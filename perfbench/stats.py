"""Summary statistics shared by every workload."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values: list[float], beyond: int = 10) -> dict | None:
    """The highest percentile that still has ``beyond`` samples above it.

    With the samples sorted, the value at rank ``n - beyond - 1`` has exactly
    ``beyond`` samples after it, and ``n - beyond`` of the ``n`` samples are
    at or below it, so it is the ``100 * (n - beyond) / n`` percentile
    (rounded down). Returns ``{"value", "percentile", "n"}``, or None when
    there are too few samples for any such percentile.
    """
    n = len(values)
    if n <= beyond:
        return None
    ordered = sorted(values)
    return {
        "value": float(ordered[n - beyond - 1]),
        "percentile": (100 * (n - beyond)) // n,
        "n": n,
    }


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``."""
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def drift_ratio(round_seconds: list[float]) -> float:
    """Mean round time of the run's second half / that of its first half.

    With an odd number of rounds the middle one belongs to neither half.
    1.0 means no drift; above 1 the run slowed down as it went on."""
    half = len(round_seconds) // 2
    if half == 0:
        return 1.0
    first = sum(round_seconds[:half]) / half
    second = sum(round_seconds[-half:]) / half
    return second / first if first else 1.0
