"""Spans around the benchmark's own calls into the program, and the
statistics the report needs.

A span has a name, start, end, parent and trace id (one trace per pass
or tick).  With tracing on, every span also runs its Spark work under a
job group of its own, so `statusTracker()` gives the exact number of
Spark jobs the call launched.  Structured Streaming runs its batches
under a job group named after the query's run id; `count_group` reads
those.  With tracing off, `span` records nothing and sets no job group:
end-to-end numbers come from untraced runs.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    trace_id: str
    span_id: str
    parent_id: str | None
    start: float
    end: float = 0.0
    jobs: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; `write` dumps them when the run ends."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # time spent in the tracer's own bookkeeping (job groups and
        # status-tracker reads): the tracing overhead of a traced run
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, new_trace: bool = False):
        """Time the block as a child of the innermost open span (or as
        the root of a new trace).  Yields the span, or None untraced."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack and not new_trace else None
        s = Span(
            name=name,
            trace_id=parent.trace_id if parent else uuid.uuid4().hex,
            span_id=uuid.uuid4().hex[:16],
            parent_id=parent.span_id if parent else None,
            start=0.0,
        )
        self.sc.setJobGroup(s.span_id, name)
        self._stack.append(s)
        self.overhead_s += time.perf_counter() - t0
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            s.jobs += self.count_group(s.span_id)
            if self._stack:
                up = self._stack[-1]
                self.sc.setJobGroup(up.span_id, up.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)
            self.overhead_s += time.perf_counter() - t1

    def add_group_jobs(self, span: Span, group: str) -> None:
        """Charge to `span` the jobs another thread ran under `group`
        (a streaming query runs its batches under its run id)."""
        t0 = time.perf_counter()
        span.jobs += self.count_group(group)
        self.overhead_s += time.perf_counter() - t0

    def count_group(self, group: str) -> int:
        """Spark jobs launched so far under job group `group`."""
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it covered by direct children."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent_id == span.span_id
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, span.start), min(e, span.end)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.duration - covered

    def write(self, path: str) -> None:
        out = [
            {
                "name": s.name,
                "trace_id": s.trace_id,
                "span_id": s.span_id,
                "parent_id": s.parent_id,
                "start": s.start,
                "end": s.end,
                "self_s": self.self_time(s),
                "jobs": s.jobs,
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def weighted_quantile(pairs: list[tuple[float, int]], q: float) -> float:
    """Quantile `q` of values given as (value, weight) pairs: the
    smallest value whose cumulative weight reaches q of the total."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    if not total:
        return 0.0
    need, acc = q * total, 0
    for v, w in pairs:
        acc += w
        if acc >= need:
            return v
    return pairs[-1][0]


def supported_percentile(n: int) -> int:
    """Highest whole percentile with at least ten samples beyond it."""
    if n <= 10:
        return 0
    return int(100 * (n - 10) / n)


def descendants(pid: int) -> list[int]:
    """Every live process under `pid`."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(c) for c in f.read().split()]
                out += kids
                todo += kids
        except OSError:
            pass
    return out


def peak_rss_mb(spark) -> float:
    """Peak RSS (VmHWM) of this Python process plus the gateway JVM and
    every process under it (the pyspark daemon and its workers)."""

    def hwm_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    jvm = spark.sparkContext._gateway.proc.pid
    pids = [os.getpid(), jvm, *descendants(jvm)]
    return sum(hwm_kb(p) for p in pids) / 1024.0
