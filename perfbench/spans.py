"""Spans recorded from the benchmark's side of each layer boundary,
the Spark status-store census read per span, and the statistics used
to report them.

A span is opened around a call into the program (``Tracer.span``) or
by wrapping a method on one instance (``Tracer.wrap``). While it is
open, Spark jobs started on its thread carry the span's job group;
when it closes, the span reads the status store for that group: jobs,
stages, tasks, executor run time, shuffle read/write and spill bytes.
Jobs belong to the innermost open span on their thread, so a span's
census is its self work; inclusive figures add its children. A read
that fails, or finds a job or stage the store no longer holds, leaves
the census ``None`` - never a partial sum.

Spans are kept in memory and written out once, when the run ends.
With tracing off, ``span`` only times the call (no job group, no
census, no record) so the end-to-end numbers carry no tracing cost.
"""

from __future__ import annotations

import itertools
import math
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np

CENSUS_KEYS = ("jobs", "stages", "tasks", "task_ms", "shuffle_read_bytes",
               "shuffle_write_bytes", "spill_bytes")


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    census: dict | None = None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        # one caller at a time (closed loop): the stream's callback
        # thread runs while the caller blocks in awaitTermination, so
        # one stack across threads links its spans to the caller's
        self._stack: list[Span] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: int | None = None):
        """Time the enclosed call; when tracing, record it as a span."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            s = Span(next(self._ids), name,
                     op if op is not None else (parent.op if parent else None),
                     parent.id if parent else None, 0.0)
            self._stack.append(s)
        group = f"perfbench-{s.id}"
        saved = {k: sc.getLocalProperty(k) for k in
                 ("spark.jobGroup.id", "spark.job.description",
                  "spark.job.interruptOnCancel")}
        sc.setJobGroup(group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            for k, v in saved.items():
                sc.setLocalProperty(k, v)
            s.census = census(self.spark, group)
            with self._lock:
                self._stack.remove(s)
                self.spans.append(s)

    def wrap(self, obj, method: str, name: str) -> None:
        """Open a span around every call of ``obj.method`` (this
        instance only; the class is untouched)."""
        fn = getattr(obj, method)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        setattr(obj, method, traced)

    # -- derived figures --

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_ms(self) -> dict[int, float]:
        """Span duration minus the part its children cover."""
        kids = self.children()
        out = {}
        for s in self.spans:
            iv = sorted((max(c.start, s.start), min(c.end, s.end))
                        for c in kids.get(s.id, ()))
            covered, lo, hi = 0.0, None, None
            for a, b in iv:
                if hi is None or a > hi:
                    if hi is not None:
                        covered += hi - lo
                    lo, hi = a, b
                else:
                    hi = max(hi, b)
            if hi is not None:
                covered += hi - lo
            out[s.id] = s.ms - covered * 1000.0
        return out

    def inclusive_census(self, s: Span) -> dict | None:
        """Census of a span plus all its descendants; None if any part
        is unknown."""
        kids = self.children()
        total = dict.fromkeys(CENSUS_KEYS, 0)
        todo = [s]
        while todo:
            cur = todo.pop()
            if cur.census is None:
                return None
            for k in CENSUS_KEYS:
                total[k] += cur.census[k]
            todo += kids.get(cur.id, [])
        return total

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "op": s.op, "parent": s.parent,
                 "start": s.start, "end": s.end, "census": s.census}
                for s in self.spans]


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def census(spark, group: str) -> dict | None:
    """Status-store totals of every job in ``group``, or None when any
    part of the read fails (no partial sums)."""
    sc = spark.sparkContext
    try:
        jsc = sc._jsc.sc()
        # the store is fed asynchronously; drain the bus first so the
        # group's last tasks are counted
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        empty = sc._jvm.java.util.Collections.emptyList()
        quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        out = dict.fromkeys(CENSUS_KEYS, 0)
        seen: set[int] = set()
        for j in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(j)
            if info is None:
                return None
            out["jobs"] += 1
            for st in info.stageIds:
                if st in seen:
                    continue
                seen.add(st)
                attempts = list(_seq(store.stageData(
                    st, False, empty, False, quantiles)))
                if not attempts:
                    return None
                for a in attempts:
                    if a.numCompleteTasks() == 0:
                        continue  # skipped stage: its output was reused
                    out["stages"] += 1
                    out["tasks"] += a.numCompleteTasks()
                    out["task_ms"] += a.executorRunTime()
                    out["shuffle_read_bytes"] += (
                        a.shuffleLocalBytesRead() + a.shuffleRemoteBytesRead())
                    out["shuffle_write_bytes"] += a.shuffleWriteBytes()
                    out["spill_bytes"] += (a.memoryBytesSpilled()
                                           + a.diskBytesSpilled())
        return out
    except Exception:  # noqa: BLE001 - any failed read means "unknown"
        return None


def sum_census(spans, tracer: Tracer | None = None,
               inclusive: bool = False) -> dict | None:
    """Totals over spans; None if any span's census is unknown."""
    total = dict.fromkeys(CENSUS_KEYS, 0)
    for s in spans:
        c = tracer.inclusive_census(s) if inclusive else s.census
        if c is None:
            return None
        for k in CENSUS_KEYS:
            total[k] += c[k]
    return total


# ------------------------------------------------------------ statistics

def median(xs: list[float]) -> float:
    return float(np.median(xs))


def tail(xs: list[float]) -> tuple[float, int]:
    """(value, percentile) at the highest whole percentile with at
    least ten samples beyond it. Below 20 samples that percentile is
    under the median, so the maximum is reported as percentile 100."""
    n = len(xs)
    if n < 20:
        return max(xs), 100
    p = math.floor(100 * (1 - 10 / n))
    return float(np.percentile(xs, p)), p
