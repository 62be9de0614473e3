"""The tail-percentile rule, percentiles, interval unions and span
self-time arithmetic."""

from __future__ import annotations

import pytest

from stats import (
    latency_summary, percentile, quartile_spread, self_times, tail_percentile,
    union_length,
)


@pytest.mark.parametrize("n, want", [
    (1, 75.0), (10, 75.0), (39, 75.0), (40, 75.0),    # too few for p90: quartile
    (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0),
    (1000, 99.0), (9999, 99.0), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want
    if want != 75.0:
        assert round(n * (100 - want) / 100, 6) >= 10


def test_tail_percentile_is_monotone_in_n():
    ps = [tail_percentile(n) for n in range(1, 20_000, 37)]
    assert ps == sorted(ps)


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 75) == pytest.approx(3.25)
    assert percentile([7.0], 99) == 7.0


def test_latency_summary_reports_the_percentile_used():
    s = latency_summary([float(i) for i in range(1, 101)])
    assert s["tail_pct"] == 90.0
    assert s["tail"] == pytest.approx(percentile([float(i) for i in range(1, 101)], 90.0))
    assert s["p50"] == pytest.approx(50.5)


def test_quartile_spread():
    assert quartile_spread([1.0] * 10) == 0.0
    assert quartile_spread([0.0] * 4) == 0.0
    assert quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx((4.5 - 1.5) / 3.0)


def test_union_length_counts_overlaps_once_and_clips():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10)], 2, 5) == 3.0
    assert union_length([(0, 1), (4, 6)], 0.5, 5) == 1.5
    assert union_length([(3, 4)], 5, 9) == 0.0


def test_self_times_subtract_direct_children_only():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 5.0},
        {"id": 3, "parent": 2, "start": 2.0, "end": 3.0},
        {"id": 4, "parent": 1, "start": 6.0, "end": 8.0},
    ]
    st = self_times(spans)
    assert st == {1: 4.0, 2: 3.0, 3: 1.0, 4: 2.0}
    # self times of a tree add up to the root's wall time
    assert sum(st.values()) == pytest.approx(10.0)
