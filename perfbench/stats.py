"""Small, dependency-free statistics used by the benchmark.

Percentile rule: nearest rank. The p-th percentile of n samples is the
smallest sample with at least ``ceil(p/100 * n)`` samples at or below
it, so every reported value is a value that was observed.

Event-weighted lag: every change event is one sample. A commit that made
k events visible contributes k samples, one per event, each equal to the
commit time minus that event's creation time. A batch of one event and a
batch of ten thousand therefore weigh 1 : 10000, which is what a consumer
of the table experiences.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterable, Sequence


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile, ``0 < p <= 100``."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 < p <= 100:
        raise ValueError(f"percentile must be in (0, 100], got {p}")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def event_lags(
    commits: Iterable[tuple[int, int, float]],
    created_at: Callable[[int], float],
) -> list[float]:
    """Per-event visibility lag.

    ``commits`` holds ``(lo, hi, commit_time)``: the commit made versions
    ``lo < v <= hi`` visible at ``commit_time``. Versions are one per
    event (the landing zone numbers events contiguously), so the commit
    contributes ``hi - lo`` samples. ``created_at(v)`` is the scheduled
    creation time of version ``v``."""
    lags: list[float] = []
    for lo, hi, t in commits:
        lags.extend(t - created_at(v) for v in range(lo + 1, hi + 1))
    return lags


def iqr_share(values: Sequence[float]) -> float:
    """Inter-quartile distance as a share of the median, the spread rule
    the benchmark's bounds are checked against."""
    import statistics

    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
