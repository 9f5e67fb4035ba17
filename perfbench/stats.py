"""Pure arithmetic of the benchmark: percentiles, the latency statistic,
interval unions and span self time.  No Spark, no I/O, so the tests run
without a session."""

from __future__ import annotations

import math
from dataclasses import dataclass


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated p-th percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def slot_median_geomean(samples: dict[str, list[float]]) -> float:
    """Geometric mean over slots of each slot's median.  Every slot counts
    alike, and the result does not jump with the slot on which a median
    over all samples would land when slot costs differ several-fold."""
    logs = [math.log(median(v)) for v in samples.values() if v]
    if not logs:
        raise ValueError("no samples")
    return math.exp(sum(logs) / len(logs))


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
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


@dataclass
class Span:
    """One timed call at a layer boundary.  ``parent`` is the index of the
    enclosing span in the same list, or -1."""

    name: str
    start: float
    end: float
    parent: int
    op_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its child
    spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent >= 0:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - union_length(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]
