"""The benchmark's own arithmetic: percentiles, latency samples, span self
time, core utilisation and failure counting. Pure Python, no Spark, so it is tested on
its own (perfbench/tests/test_stats.py)."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail percentile


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def nearest_rank(values: list[float], pct: float) -> float:
    """The nearest-rank percentile: the smallest sample with at least `pct`
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return float(ordered[rank - 1])


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> int | None:
    """The highest whole percentile with at least `beyond` of `n` samples
    strictly above its nearest rank, or None when `n` is too small for any
    percentile at or above the median to have that many beyond it."""
    for pct in range(99, 49, -1):
        if n - math.ceil(pct / 100.0 * n) >= beyond:
            return pct
    return None


@dataclass(frozen=True)
class Tail:
    pct: int  # 100 when the sample is too small for the rule
    value: float
    n: int


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> Tail:
    """The latency tail: the highest percentile with `beyond` samples past
    it. Below 2 * `beyond` samples no percentile at or above the median
    qualifies, and the tail is the slowest sample, labelled p100."""
    pct = tail_percentile(len(values), beyond) or 100
    return Tail(pct, nearest_rank(values, pct), len(values))


def pass_samples(passes, job_op: str | None = None) -> tuple[list[float], list[float]]:
    """The job and the operation latency samples of the timed passes.

    With `job_op`, each pass's op of that name is its job and its other ops
    are the operations; without, the pass is the job and all its ops are
    operations. A pass whose job failed has no operations after it: when no
    pass has any, the job samples stand in for them, so a run whose every
    job failed still reports (with its failures counted) instead of
    crashing."""
    if job_op is None:
        jobs = [p.wall_s for p in passes]
        ops = [op.latency_s for p in passes for op in p.ops]
    else:
        jobs = [op.latency_s for p in passes for op in p.ops if op.name == job_op]
        ops = [op.latency_s for p in passes for op in p.ops if op.name != job_op]
    return jobs, ops or jobs


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of [start, end] its children cover.
    Children may overlap each other or stick out of the parent; only their
    union inside the parent is subtracted."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(lo, start), min(hi, end)) for lo, hi in children):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (end - start) - covered


def core_busy_frac(executor_run_s: float, wall_s: float, cores: int) -> float:
    """Executor run time over the core time the wall offered: 1.0 means every
    core ran a task for the whole interval."""
    if wall_s <= 0 or cores <= 0:
        raise ValueError("core_busy_frac needs a positive wall and core count")
    return executor_run_s / (wall_s * cores)


@dataclass
class Outcomes:
    """Attempted/failed operation counts. An operation that raised and one
    whose output failed its check both count as failed."""

    attempted: int = 0
    failed: int = 0

    def record(self, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
