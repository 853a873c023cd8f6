"""Order statistics used by the benchmark's metrics."""

from __future__ import annotations

import math
import re

#: Metric and workload names BENCHMARK.json allows.
METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

#: A tail percentile must leave at least this many samples above it.
TAIL_MIN_BEYOND = 10


def median(vals: list[float]) -> float:
    """The one median rule of every median metric: the middle sample,
    or the mean of the two middle samples."""
    s = sorted(vals)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def tail_percentile(n: int) -> int:
    """Highest integer percentile in [50, 99] whose nearest rank leaves
    at least :data:`TAIL_MIN_BEYOND` of ``n`` samples above it; 50 when
    ``n`` is too small for any higher one."""
    for p in range(99, 50, -1):
        if n - math.ceil(p / 100.0 * n) >= TAIL_MIN_BEYOND:
            return p
    return 50


def tail(vals: list[float]) -> tuple[float, int, int]:
    """(value, percentile, samples beyond it) of the tail rule: the
    nearest-rank value at :func:`tail_percentile`."""
    s = sorted(vals)
    p = tail_percentile(len(s))
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1], p, len(s) - k
