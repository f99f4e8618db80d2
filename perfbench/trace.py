"""Spans around the benchmark's calls into the engine, and Spark counters.

A traced run records one span per call: name, start, end, parent span and
run id. Spans stay in memory until the run ends. A span's self time is
its duration minus the part of it that its child spans cover.

``SparkCounters`` tags every Spark job started inside a span with a job
group named after the span, so the jobs, tasks and bytes of each call can
be read back from the status tracker and status store after the run. A
job counts towards the innermost open span only, like self time.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import asdict, dataclass
from typing import Iterator


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float | None = None


class Tracer:
    """Records spans; ``SparkCounters`` may hook span entry and exit."""

    def __init__(self, run_id: str, counters: "SparkCounters | None" = None):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._counters = counters

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._open[-1].span_id if self._open else None
        sp = Span(len(self.spans), name, parent, self.run_id, time.perf_counter())
        self.spans.append(sp)
        self._open.append(sp)
        if self._counters:
            self._counters.enter(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._open.pop()
            if self._counters:
                self._counters.exit(sp, self._open[-1] if self._open else None)

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


class NullTracer:
    """The untraced path: spans cost one no-op context manager."""

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        yield None


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the union of its children's intervals
    (clipped to the parent's own interval)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c.start, s.start), min(c.end, s.end))
                for c in children.get(s.span_id, [])]
        out[s.span_id] = (s.end - s.start) - _covered(
            [k for k in kids if k[1] > k[0]])
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Span name -> summed self time over every span of that name."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.span_id]
    return out


COUNTERS = ("jobs", "tasks", "tasks_failed", "input_bytes", "shuffle_write_bytes")


class SparkCounters:
    """Per-span Spark job group bookkeeping and the counter read-back."""

    def __init__(self, sc, prefix: str):
        self._sc = sc
        self._prefix = prefix
        self.groups: dict[int, str] = {}

    def _group(self, sp: Span) -> str:
        return f"{self._prefix}-{sp.span_id}"

    def enter(self, sp: Span) -> None:
        self.groups[sp.span_id] = self._group(sp)
        self._sc.setJobGroup(self._group(sp), sp.name)

    def exit(self, sp: Span, parent: Span | None) -> None:
        if parent is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(self._group(parent), parent.name)

    def read(self, spans: list[Span]) -> dict[int, dict[str, int]]:
        """span_id -> counters of the jobs run while it was innermost.

        Waits for the listener bus first: the status store is filled
        asynchronously after each job ends.
        """
        sc = self._sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = sc._jvm
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        tracker = sc.statusTracker()
        out = {}
        for sp in spans:
            job_ids = tracker.getJobIdsForGroup(self.groups[sp.span_id])
            stage_ids: set[int] = set()
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            c = dict.fromkeys(COUNTERS, 0)
            c["jobs"] = len(job_ids)
            for sid in stage_ids:
                attempts = store.stageData(sid, False, jvm.java.util.ArrayList(),
                                           False, no_quantiles).iterator()
                while attempts.hasNext():
                    d = attempts.next()
                    c["tasks"] += d.numCompleteTasks() + d.numFailedTasks()
                    c["tasks_failed"] += d.numFailedTasks()
                    c["input_bytes"] += d.inputBytes()
                    c["shuffle_write_bytes"] += d.shuffleWriteBytes()
            out[sp.span_id] = c
        return out
