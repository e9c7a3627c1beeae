"""Spans around the benchmark's calls into each layer.

`Tracer` keeps spans in memory: name, start, end, parent, operation id, and
the status-store counts of the jobs that ran under the span (each span runs
under its own Spark job group). `NoTrace` has the same interface and records
nothing, so the untraced run times the very same calls."""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.probe import ExecCounts, SparkProbe
from perfbench.stats import self_time


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    counts: ExecCounts = field(default_factory=ExecCounts)
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.sid,
            "name": self.name,
            "parent": self.parent,
            "op": self.op,
            "start": self.start,
            "end": self.end,
            "counts": self.counts.as_dict(),
            "attrs": self.attrs,
        }


class NoTrace:
    """The untraced run: spans cost one generator frame and record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield None

    def new_op(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, probe: SparkProbe):
        self.probe = probe
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._op: int | None = None

    def new_op(self) -> None:
        """Start a new operation id; spans opened from now on carry it."""
        self._op = next(self._ops)

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, parent.sid if parent else None, self._op, 0.0)
        sp.attrs.update(attrs)
        self.probe.begin(_group(sp))
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sp.counts = self.probe.end(_group(sp))
            if parent is not None:
                self.probe.begin(_group(parent))
            self.spans.append(sp)


def _group(sp: Span) -> str:
    return f"perfbench-span-{sp.sid}"


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: its duration minus what its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    return {sp.sid: self_time(sp.start, sp.end, kids.get(sp.sid, [])) for sp in spans}


def inclusive_counts(spans: list[Span]) -> dict[int, ExecCounts]:
    """Each span's counts plus those of all its descendants."""
    by_id = {sp.sid: sp for sp in spans}
    total = {sp.sid: ExecCounts() for sp in spans}
    for sp in spans:
        node: Span | None = sp
        while node is not None:
            total[node.sid].add(sp.counts)
            node = by_id.get(node.parent) if node.parent is not None else None
    return total


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for sp in spans:
        out[sp.name] = out.get(sp.name, 0.0) + st[sp.sid]
    return out
