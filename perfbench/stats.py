"""Arithmetic the benchmark reports: percentiles, interval unions, driver
gap, span self time and write amplification. Pure functions, no Spark."""

from __future__ import annotations

import os
import statistics


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def tail(xs: list[float]) -> float:
    """The highest percentile that has at least ten samples beyond it.

    With samples sorted ascending, that is the order statistic with exactly
    ten samples above it, ``sorted[n - 11]``. It is reported only where it
    lies at or above the median (n >= 21); with fewer samples no such
    percentile exists above the median, and the maximum is reported.
    """
    if not xs:
        raise ValueError("tail of no samples")
    s = sorted(xs)
    n = len(s)
    return float(s[n - 11] if n >= 21 else s[-1])


def union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Merge possibly overlapping [start, end] intervals."""
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def covered(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = [(max(a, start), min(b, end)) for a, b in intervals]
    return sum(b - a for a, b in union(clipped))


def driver_gap(start: float, end: float, jobs: list[tuple[float, float]]) -> float:
    """Span wall time during which no Spark job of the span was running:
    planning, job submission and driver-side work between jobs."""
    return (end - start) - covered(jobs, start, end)


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Span duration minus the part of its interval its child spans cover."""
    return (end - start) - covered(children, start, end)


def write_amp(bytes_before: int, bytes_after: int, appended_bytes: int) -> float:
    """Bytes added on disk per byte of appended input."""
    if appended_bytes <= 0:
        raise ValueError("no appended bytes")
    return (bytes_after - bytes_before) / appended_bytes


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
