"""Summary statistics for the benchmark's samples.

Latencies are summarised per op kind and then combined across kinds by
geometric mean, so a workload that mixes a 2 s commit with a 0.3 s read
reports one figure that does not jump between the two clusters the way
a pooled median would.
"""

from __future__ import annotations

import math
import statistics

TAIL_MIN_BEYOND = 10


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile p such that at least
    ``TAIL_MIN_BEYOND`` of ``n`` sorted samples lie strictly above the
    p-th percentile's rank (nearest-rank definition); None when ``n`` is
    too small for any percentile to have that many samples beyond it."""
    if n <= TAIL_MIN_BEYOND:
        return None
    for p in range(99, 0, -1):
        rank = math.ceil(p / 100 * n)  # 1-based nearest rank
        if n - rank >= TAIL_MIN_BEYOND:
            return p
    return None


def percentile(values: list[float], p: int) -> float:
    """Nearest-rank percentile (p in 1..100)."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(s)))
    return s[rank - 1]


def tail(values: list[float]) -> tuple[int, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when there are too few samples."""
    p = tail_percentile(len(values))
    if p is None:
        return None
    return p, percentile(values, p)


def geomean(values: list[float]) -> float:
    if not values:
        raise ValueError("geomean of no values")
    if any(v <= 0 for v in values):
        raise ValueError(f"geomean needs positive values, got {values!r}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def per_kind_geomean(samples: dict[str, list[float]]) -> float:
    """Geometric mean over op kinds of each kind's median.
    Kinds without samples are an error: a workload that ran no op of a
    kind it declares did not do its work."""
    missing = [k for k, v in samples.items() if not v]
    if missing:
        raise ValueError(f"no samples for op kinds {missing}")
    return geomean([statistics.median(v) for v in samples.values()])


def median_rate(items: dict[str, list[int]],
                samples: dict[str, list[float]]) -> float:
    """Items moved per second by a typical op of each item-moving kind:
    the sum over those kinds of the median items per op, over the sum
    of their median op seconds. Built from medians, so one op slowed by
    a burst of host load moves it no more than it moves ``op_p50_s``."""
    kinds = [k for k, v in items.items() if v]
    if not kinds:
        raise ValueError("no item-moving ops")
    return (sum(statistics.median(items[k]) for k in kinds)
            / sum(statistics.median(samples[k]) for k in kinds))


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as
    ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
