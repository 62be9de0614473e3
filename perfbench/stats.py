"""Pure arithmetic shared by the benchmark: percentiles, the tail rule,
interval unions and span self-time. No Spark here, so the tests can pin
every rule without a session."""

from __future__ import annotations

import math
import statistics

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float:
    """The highest ladder percentile with at least ``TAIL_MIN_BEYOND``
    samples beyond it. A run with too few samples for any ladder rung
    falls back to the last rung (p75, the upper quartile), the highest
    percentile a handful of samples still pins."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= TAIL_MIN_BEYOND - 1e-9:  # 100-99.9 is inexact
            return p
    return TAIL_LADDER[-1]


def latency_summary(values: list[float]) -> dict:
    p_tail = tail_percentile(len(values))
    return {"n": len(values), "p50": percentile(values, 50.0),
            "tail": percentile(values, p_tail), "tail_pct": p_tail}


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with ``statistics.quantiles(n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    if q2 == 0:
        return 0.0 if q3 == q1 else float("inf")
    return (q3 - q1) / q2


def union_length(intervals: list[tuple[float, float]],
                 lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals``, optionally clipped to
    ``[lo, hi]``. Overlaps count once."""
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → self time: its wall time minus the wall time of its
    direct children. Each span is ``{"id", "parent", "start", "end"}``;
    children of one parent never overlap (one client thread), so the
    self times of a tree sum to the root's wall time."""
    child_wall: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_wall[s["parent"]] = (child_wall.get(s["parent"], 0.0)
                                       + s["end"] - s["start"])
    return {s["id"]: max(0.0, s["end"] - s["start"] - child_wall.get(s["id"], 0.0))
            for s in spans}
