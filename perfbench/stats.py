"""Summary statistics and metric-name rules."""

from __future__ import annotations

import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

# a percentile is reported only with at least this many samples beyond it
TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100)."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def min_samples_for(q: float) -> int:
    """Smallest sample count with at least TAIL_SAMPLES samples above the
    ``q``-th percentile (p50 → 20, p90 → 100, p99 → 1000)."""
    n = 1
    while n - max(1, math.ceil(q / 100.0 * n)) < TAIL_SAMPLES:
        n += 1
    return n


def reportable_percentiles(
    values: list[float], candidates: tuple[float, ...] = (50, 90, 99)
) -> dict[str, float]:
    """{"p50": ..., ...} for each candidate percentile that has at least
    TAIL_SAMPLES samples beyond it.  The median is always reported, since
    it is the benchmark's headline latency."""
    out = {"p50": statistics.median(values)} if values else {}
    for q in candidates:
        if q != 50 and len(values) >= min_samples_for(q):
            out[f"p{q:g}"] = percentile(values, q)
    return out


def valid_name(name: str) -> bool:
    return bool(NAME_RE.fullmatch(name)) and len(name) <= 64
