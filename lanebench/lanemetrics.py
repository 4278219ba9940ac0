"""Pure helpers for the lane benchmark: percentiles, per-pass aggregation,
interval unions, span self time and status-store id-window attribution.

Nothing here touches Spark, so every rule the report depends on is tested
on synthetic inputs (``lanebench/test_lanemetrics.py``).
"""

from __future__ import annotations

import statistics
from collections.abc import Callable, Iterable, Mapping, Sequence


def percentile(values: Sequence[float], pct: int) -> float:
    """Linear-interpolated percentile (the 'inclusive' definition):
    0 -> min, 100 -> max, 50 -> median."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 <= pct <= 100:
        raise ValueError(f"percentile {pct} outside 0..100")
    xs = sorted(values)
    rank = (len(xs) - 1) * pct / 100
    lo = int(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def samples_beyond(n: int, pct: int) -> int:
    """How many of ``n`` samples lie beyond the ``pct`` percentile.
    Integer arithmetic: ``100 * (1 - 0.9)`` is not exactly 10 in floats."""
    return n * (100 - pct) // 100


def tail_reportable(n: int, pct: int, min_beyond: int = 10) -> bool:
    """A tail percentile is reported only with at least ``min_beyond``
    samples beyond it (p90 needs 100 samples)."""
    return samples_beyond(n, pct) >= min_beyond


def pass_total(
    by_lane: Mapping[str, Sequence[float]],
    stat: Callable[[Sequence[float]], float] = statistics.median,
) -> float:
    """Sum over lanes of one statistic of each lane's samples. A median
    over the pooled samples of mixed lanes would track only the middle
    lane; the per-lane sum moves when any lane moves."""
    if not by_lane:
        raise ValueError("no lanes")
    return sum(stat(xs) for xs in by_lane.values())


def union_length(
    intervals: Iterable[tuple[float, float]],
    lo: float | None = None,
    hi: float | None = None,
) -> float:
    """Length covered by the union of ``(start, end)`` intervals, clipped
    to ``[lo, hi]`` when given. Overlapping intervals count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
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


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover. With
    stage intervals as the children of a request this is ``driver.gap_s``,
    the request time with no stage running."""
    return (end - start) - union_length(children, start, end)


def in_window(ids: Iterable[int], after: int, upto: int) -> list[int]:
    """Ids in the half-open window ``(after, upto]``. Spark hands out job
    and stage ids in increasing order, so with one closed-loop client the
    ids issued between two reads of the status store belong to the span
    those reads bracket."""
    return sorted(i for i in ids if after < i <= upto)


def attribute(ids: Iterable[int], marks: Sequence[tuple[str, int, int]]) -> dict[str, list[int]]:
    """Assign each id to the span whose ``(name, after, upto)`` window
    holds it; ids in no window are left out. Windows must not overlap."""
    ordered = sorted(marks, key=lambda m: m[1])
    for (n1, _, u1), (n2, a2, _) in zip(ordered, ordered[1:]):
        if a2 < u1:
            raise ValueError(f"id windows of {n1!r} and {n2!r} overlap")
    ids = list(ids)
    return {name: in_window(ids, after, upto) for name, after, upto in marks}
