"""Spans, Spark job groups and JVM counters for the benchmark.

Everything here observes the library from outside: spans wrap public
functions (module attributes and class methods are replaced by timing
wrappers for the traced run only), each span runs under its own Spark
job group, job/stage/task counts come from ``SparkContext.statusTracker``,
GC time from the JVM's ``GarbageCollectorMXBean``s over py4j, and
shuffle bytes from the Spark event log that the traced run enables.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import resource
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Optional


@dataclass
class Span:
    id: int
    name: str
    parent: Optional[int]
    op: int
    start: float = 0.0
    end: float = 0.0
    children: "list[int]" = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"


class Tracer:
    """Records a span around each timed call. Untraced, a span is two
    clock reads; traced, it also runs its Spark jobs under a job group
    of its own so that counts can be read per span afterwards."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.spans: "list[Span]" = []
        self._stack: "list[Span]" = []
        self.sc = None  # set once the session is up; spans before it get no job group
        # time the tracer spends on its own bookkeeping inside spans
        self.cost_s = 0.0

    def _set_group(self, span: "Span | None") -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            op=parent.op if parent else len(self.spans),
        )
        self.spans.append(s)
        if parent:
            parent.children.append(s.id)
        self._stack.append(s)
        grouped = self.traced and self.sc is not None
        if grouped:
            t = time.perf_counter()
            self._set_group(s)
            self.cost_s += time.perf_counter() - t
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if grouped:
                t = time.perf_counter()
                self._set_group(parent)
                self.cost_s += time.perf_counter() - t

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function, method or
        classmethod) with a wrapper that runs it inside a span."""
        raw = inspect.getattr_static(owner, attr)
        fn = raw.__func__ if isinstance(raw, (classmethod, staticmethod)) else raw
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        if isinstance(raw, classmethod):
            traced = classmethod(traced)
        elif isinstance(raw, staticmethod):
            traced = staticmethod(traced)
        setattr(owner, attr, traced)

    # ---- queries over recorded spans --------------------------------
    def named(self, name: str) -> "list[Span]":
        return [s for s in self.spans if s.name == name]

    def descendants(self, span: Span) -> "list[Span]":
        out = [span]
        for c in span.children:
            out.extend(self.descendants(self.spans[c]))
        return out

    def self_time(self, span: Span) -> float:
        return span.duration - sum(self.spans[c].duration for c in span.children)

    def layer_self_times(self) -> "dict[str, float]":
        out: "dict[str, float]" = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + self.self_time(s)
        return out

    def call_summary(self) -> "list[str]":
        """One line per timed call name: count, median and tail."""
        by_name: "dict[str, list[float]]" = {}
        for s in self.spans:
            if s.layer == "op":
                by_name.setdefault(s.name, []).append(s.duration)
        return [
            f"{name}: n={len(d)} p50={median(d):.4g} s max={max(d):.4g} s"
            for name, d in sorted(by_name.items())
        ]

    def write(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                                    "start": s.start, "end": s.end}) + "\n")


class SparkCounters:
    """Job, task and shuffle counts per span, read after the run."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._shuffle_by_group: "dict[str, int]" = {}

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status tracker holds final counts for every finished job."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def jobs(self, group: str) -> "list[int]":
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def tasks(self, jobs: "list[int]") -> int:
        st = self.sc.statusTracker()
        n = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is not None:
                    n += stage.numCompletedTasks
        return n

    def gc_seconds(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans()) / 1e3

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def load_event_log(self, log_dir: str) -> None:
        """Sum shuffle bytes written per job group from the event log
        (call after the SparkContext has stopped, which flushes it)."""
        stage_group: "dict[int, str]" = {}
        by_group: "dict[str, int]" = {}
        paths = sorted(
            os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files
            if f.startswith("events_")
        )
        for path in paths:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        if group:
                            for sid in ev.get("Stage IDs", []):
                                stage_group[sid] = group
                    elif kind == "SparkListenerTaskEnd":
                        group = stage_group.get(ev.get("Stage ID"))
                        metrics = ev.get("Task Metrics") or {}
                        written = (metrics.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        )
                        if group and written:
                            by_group[group] = by_group.get(group, 0) + written
        self._shuffle_by_group = by_group

    def shuffle_bytes(self, group: str) -> int:
        return self._shuffle_by_group.get(group, 0)


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of this Python process plus the Spark JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{jvm_pid}/status") as f:
        kb += sum(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> "tuple[float, float, int]":
    """(percentile, value, n): the highest of the usual percentiles with
    at least ten samples above it; the median when there are too few."""
    values = sorted(values)
    n = len(values)
    if not n:
        return 50.0, 0.0, 0
    best = 50.0
    for p in (75.0, 90.0, 95.0, 99.0, 99.9):
        if n * (1 - p / 100) >= 10:
            best = p
    return best, float(values[min(n - 1, int(best / 100 * n))]), n
