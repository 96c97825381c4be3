"""Arithmetic the benchmark reports: medians, the tail percentile, interval
unions for self time and scheduling gaps, and failure counting."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence

TAIL_BEYOND = 10


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def tail(samples: Sequence[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile that still has ``beyond`` samples above it.

    Returns ``(value, percentile, n)``: the nearest-rank value at rank
    ``n - beyond`` and its percentile ``100 * (n - beyond) / n``.  When that
    percentile would fall below the median (fewer than ``2 * beyond``
    samples) the maximum is returned as percentile 100 instead.
    """
    n = len(samples)
    if n == 0:
        raise ValueError("tail of no samples")
    ordered = sorted(samples)
    if n < 2 * beyond:
        return float(ordered[-1]), 100.0, n
    rank = n - beyond
    return float(ordered[rank - 1]), 100.0 * rank / n, n


def union_length(intervals: Iterable[tuple[float, float]], lo: float | None = None,
                 hi: float | None = None) -> float:
    """Total length covered by ``intervals``, each clipped to ``[lo, hi]``."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def uncovered(start: float, end: float, intervals: Iterable[tuple[float, float]]) -> float:
    """Part of ``[start, end]`` that no interval covers: a span's self time
    given its children, or a query's wall time outside every Spark job."""
    return (end - start) - union_length(intervals, start, end)


def failed_frac(attempted: int, failed: int) -> float:
    """Share of attempted executions that raised or mismatched the oracle."""
    if attempted < 1:
        raise ValueError("no executions attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted
