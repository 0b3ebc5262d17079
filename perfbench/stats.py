"""Small pure helpers of the benchmark: percentiles, span self time,
interval unions and the host-noise record.  No Spark, no engine imports,
so the unit tests run in a second."""

from __future__ import annotations

import math
import os
import statistics
from typing import Iterable, Sequence

#: Percentiles the tail rule may report, lowest first.
PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
#: Samples that must lie beyond a reported percentile.
MIN_BEYOND = 10


def tail_percentile(n: int) -> float | None:
    """The highest percentile of :data:`PERCENTILE_LADDER` with at least
    :data:`MIN_BEYOND` of ``n`` samples beyond it, or None when even the
    median has fewer."""
    best = None
    for p in PERCENTILE_LADDER:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:
            best = p
    return best


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Iterable[float]) -> float:
    return statistics.median(list(values))


def union_length(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
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


def uncovered(lo: float, hi: float, intervals: Iterable[tuple[float, float]]) -> float:
    """Part of ``[lo, hi]`` that no interval covers — the stage gap of an
    action when ``intervals`` are its stages' running times."""
    return (hi - lo) - union_length(intervals, lo, hi)


def self_times(spans: Sequence[tuple[int, int | None, float, float]]) -> dict[int, float]:
    """Self time per span id from ``(id, parent_id, start, end)`` tuples: a
    span's duration minus the part of it its children cover (children that
    overlap each other count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sid, parent, start, end in spans:
        if parent is not None:
            children.setdefault(parent, []).append((start, end))
    return {
        sid: uncovered(start, end, children.get(sid, ()))
        for sid, _parent, start, end in spans
    }


def _cpu_ticks() -> dict[str, int]:
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {k: int(v) for k, v in zip(names, fields)}


class HostNoise:
    """Load average before and after a run, and the share of CPU time the
    host spent in steal and iowait meanwhile (from ``/proc/stat``)."""

    def __init__(self) -> None:
        self.load_before = os.getloadavg()
        self.ticks_before = _cpu_ticks()

    def record(self, master: str) -> dict:
        after = _cpu_ticks()
        delta = {k: after[k] - self.ticks_before[k] for k in after}
        total = sum(delta.values()) or 1
        return {
            "loadavg_before": [round(x, 2) for x in self.load_before],
            "loadavg_after": [round(x, 2) for x in os.getloadavg()],
            "steal_share": round(delta["steal"] / total, 4),
            "iowait_share": round(delta["iowait"] / total, 4),
            "nproc": len(os.sched_getaffinity(0)),
            "spark_master": master,
        }
