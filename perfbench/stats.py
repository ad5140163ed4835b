"""Summary statistics shared by the runner and the tracer.

Pure functions over plain lists, so the tests exercise them without
Spark.
"""

from __future__ import annotations

import statistics


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that still has ``beyond`` samples above it,
    but never below the median.

    Uses nearest-rank percentiles: the p-th percentile of n sorted
    samples is element ``ceil(p * n / 100) - 1``, which leaves
    ``n - ceil(p * n / 100)`` samples beyond it.  The highest p leaving
    at least ``beyond`` is ``100 * (n - beyond) / n``, whose value is
    the ``beyond + 1``-th largest sample.  With ``2 * beyond`` samples
    or fewer that falls at or below the median; the upper median
    (element ``n // 2``, never below the interpolated median) is
    returned instead, with the count actually beyond it, so a caller
    can print that the rule was not met.  The result is continuous in
    n: at ``n = 2 * beyond + 1`` both readings agree.

    Returns (value, percentile, samples beyond).
    """
    if not samples:
        raise ValueError("tail of an empty sample")
    s = sorted(samples)
    n = len(s)
    k = max(n - beyond, n // 2 + 1)  # 1-based rank of the tail value
    return s[k - 1], 100.0 * k / n, n - k


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by at least one (start, end) interval.

    Overlapping task intervals count once, so the result is the wall
    time during which something ran (the busy time); a window minus
    its busy time is the driver gap.
    """
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(
    intervals: list[tuple[float, float]], lo: float, hi: float
) -> list[tuple[float, float]]:
    """The parts of ``intervals`` that fall inside [lo, hi]."""
    out = []
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            out.append((s, e))
    return out


def busy_and_gap(
    intervals: list[tuple[float, float]], lo: float, hi: float
) -> tuple[float, float]:
    """(busy, gap) of the window [lo, hi]: busy is the union of the
    intervals clipped to the window, gap is the rest of the window."""
    busy = union_length(clip(intervals, lo, hi))
    return busy, max(0.0, (hi - lo) - busy)
