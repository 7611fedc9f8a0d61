"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # samples that must lie above a reported tail percentile


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail_index(n: int, beyond: int = TAIL_BEYOND) -> int:
    """Index into the sorted sample of the highest percentile that still
    has at least ``beyond`` samples above it. With ``n <= beyond`` no
    percentile qualifies and the maximum (index ``n - 1``) is used; the
    reported sample count tells the reader which case applies."""
    if n < 1:
        raise ValueError("empty sample")
    return n - 1 - beyond if n > beyond else n - 1


def tail(xs: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """(value, percentile, sample count) for the tail rule above. The
    percentile is the share of samples at or below the value."""
    s = sorted(xs)
    k = tail_index(len(s), beyond)
    return float(s[k]), 100.0 * (k + 1) / len(s), len(s)
