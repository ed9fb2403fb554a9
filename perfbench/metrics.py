"""Latency summaries and the per-layer table built from a traced run."""

from __future__ import annotations

import math
from collections import defaultdict

from spans import Span, self_jobs, self_time

MIN_BEYOND = 10
MIN_CYCLES = 3  # the fewest whole cycles a run measures


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p% of
    the values at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(ordered)))
    return ordered[rank - 1]


def beyond(n: int, p: float) -> int:
    """How many of n samples lie beyond the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100 * n))


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """The highest whole percentile with at least ``min_beyond`` of n
    samples beyond it, or None when n is too small for any."""
    for p in range(99, 0, -1):
        if beyond(n, p) >= min_beyond:
            return p
    return None


def tail_of_workload(cycle_len: int) -> int:
    """op_tail_s's percentile for a workload: the highest with at least
    MIN_BEYOND ops beyond it at the fewest ops a run measures."""
    return tail_percentile(MIN_CYCLES * cycle_len)


def layer_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per layer: span count, self time and self jobs summed over the run
    (the client's own ``op`` spans are left out)."""
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"calls": 0, "self_s": 0.0, "jobs": 0}
    )
    for span in spans:
        if span.layer == "op":
            continue
        row = out[span.layer]
        row["calls"] += 1
        row["self_s"] += self_time(spans, span)
        row["jobs"] += self_jobs(spans, span)
    return dict(out)
