"""Tail-percentile choice and the per-kind geometric mean."""

from __future__ import annotations

import math
import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


@pytest.mark.parametrize("n,p", [(11, 9), (20, 50), (50, 80), (100, 90),
                                 (1000, 99), (200, 95)])
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    rank = math.ceil(p / 100 * n)
    assert n - rank >= 10
    # one percentile higher would leave fewer than ten beyond
    if p < 99:
        assert n - math.ceil((p + 1) / 100 * n) < 10


@pytest.mark.parametrize("n", [0, 1, 5, 10])
def test_tail_needs_more_than_ten_samples(n):
    assert stats.tail_percentile(n) is None
    assert stats.tail([1.0] * n) is None


def test_tail_value_is_nearest_rank():
    values = [float(v) for v in range(1, 101)]  # 1..100
    assert stats.tail(values) == (90, 90.0)
    assert stats.percentile(values, 50) == 50.0
    assert stats.percentile([3.0, 1.0, 2.0], 100) == 3.0


def test_per_kind_geomean_does_not_pool_kinds():
    samples = {"commit": [2.0, 2.0, 2.2, 1.9, 2.0],
               "read": [0.5, 0.5, 0.5]}
    # a pooled median would land in the commit cluster
    assert statistics.median(samples["commit"] + samples["read"]) > 1.9
    assert stats.per_kind_geomean(samples) == pytest.approx(1.0)


def test_per_kind_geomean_rejects_missing_kind_and_zero():
    with pytest.raises(ValueError, match="no samples"):
        stats.per_kind_geomean({"a": [1.0], "b": []})
    with pytest.raises(ValueError, match="positive"):
        stats.geomean([1.0, 0.0])


def test_median_rate_uses_typical_ops_of_item_kinds():
    items = {"drain": [25_000, 25_000, 25_000], "point": [1, 1, 1]}
    samples = {"drain": [0.5, 0.6, 5.0], "point": [0.1, 0.1, 0.1],
               "diff": [9.0, 9.0, 9.0]}  # moves no items: not counted
    # one burst-slowed drain (5.0 s) does not move the rate
    assert stats.median_rate(items, samples) == pytest.approx(25_001 / 0.7)
    with pytest.raises(ValueError, match="no item-moving"):
        stats.median_rate({}, samples)


def test_quartile_spread_matches_statistics_quantiles():
    values = [1.0, 1.1, 0.9, 1.05, 0.95, 1.2, 0.8, 1.0, 1.02, 0.98]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert stats.quartile_spread(values) == pytest.approx((q3 - q1) / q2)
