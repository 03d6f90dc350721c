"""The benchmark's own arithmetic: percentiles, span self time, job
attribution and core utilisation. Pure functions, so the self-tests in
`perfbench/tests` can check them without Spark."""

from __future__ import annotations

import math
from dataclasses import dataclass

# Percentiles a timing may be reported at, lowest first.
PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
# A percentile is reported only when at least this many samples lie above it.
MIN_TAIL = 10


def highest_percentile(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest ladder percentile with at least MIN_TAIL
    samples beyond it, or None when the sample is too small for any.

    The value is the nearest-rank percentile: the ceil(p/100 * n)-th
    smallest sample."""
    n = len(values)
    best = None
    for p in PERCENTILE_LADDER:
        rank = math.ceil(p / 100.0 * n)
        if rank >= 1 and n - rank >= MIN_TAIL:
            best = (p, sorted(values)[rank - 1])
    return best


@dataclass
class Span:
    """One timed call into a layer. Times are epoch seconds."""

    span_id: str
    layer: str
    parent: str | None
    start: float
    end: float
    depth: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """span_id -> the span's wall time less the part its direct children
    cover. Overlapping children are counted once, so no time is counted
    twice and the self times of a tree sum to its root's wall time."""
    children: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.wall - _covered(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


def attribute_job(
    group: str | None, submitted: float, spans: list[Span], by_id: dict[str, Span]
) -> Span | None:
    """The span a Spark job belongs to: the span whose id is the job's group,
    else the innermost span open when the job was submitted."""
    if group is not None and group in by_id:
        return by_id[group]
    best = None
    for s in spans:
        if s.start <= submitted <= s.end and (best is None or s.depth > best.depth):
            best = s
    return best


def core_busy(task_s: float, wall_s: float, cores: int) -> float:
    """Share of the cores' time in `wall_s` that tasks kept busy."""
    if wall_s <= 0 or cores <= 0:
        return 0.0
    return task_s / (wall_s * cores)


def stolen_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time the machine's CPUs wanted between two
    (busy, stolen) readings that the host kept from them."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0
