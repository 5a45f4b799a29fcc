"""Spans, counters and the statistics the benchmark reports.

A span covers one call into a layer, timed from the benchmark's side of
the call. Spans stay in memory until the run ends. A layer's self time
is its span's duration minus the part covered by its child spans, so
the self times of one operation's spans add up to that operation's wall
time.

The Spark-side readers take their numbers from outside the package:
the job group of a layer, the status store's stage data, the SQL
metrics of an executed plan (through adaptive query stages), the JVM's
garbage-collector MXBeans and ``/proc`` of the driver JVM.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int
    counts: dict = field(default_factory=dict)


class Tracer:
    """Collects spans when ``enabled``; otherwise ``span`` only yields.

    ``gc_clock`` returns the JVM's accumulated GC seconds; each span
    records the GC time that passed while it was open as ``gc_s``."""

    def __init__(self, enabled: bool, gc_clock=None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._gc_clock = gc_clock
        self.op_id = -1
        # seconds spent reading counters between operations
        self.overhead_s = 0.0

    def new_op(self) -> int:
        self.op_id += 1
        return self.op_id

    def span(self, name: str):
        return _SpanCtx(self, name)

    def self_times(self) -> list[tuple[Span, float, float]]:
        """(span, self seconds, self GC seconds) for every span."""
        child_t = [0.0] * len(self.spans)
        child_gc = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_t[s.parent] += s.end - s.start
                child_gc[s.parent] += s.counts.get("gc_s", 0.0)
        return [
            (s, (s.end - s.start) - child_t[i], s.counts.get("gc_s", 0.0) - child_gc[i])
            for i, s in enumerate(self.spans)
        ]

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "op": s.op_id, **s.counts}
            for s in self.spans
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name, self.idx = tracer, name, None

    def __enter__(self):
        t = self.t
        if not t.enabled:
            return None
        gc0 = t._gc_clock() if t._gc_clock else 0.0
        parent = t._stack[-1] if t._stack else None
        span = Span(self.name, time.perf_counter(), 0.0, parent, t.op_id, {"_gc0": gc0})
        self.idx = len(t.spans)
        t.spans.append(span)
        t._stack.append(self.idx)
        return span

    def __exit__(self, *exc):
        t = self.t
        if not t.enabled:
            return False
        span = t.spans[self.idx]
        span.end = time.perf_counter()
        gc0 = span.counts.pop("_gc0")
        if t._gc_clock:
            span.counts["gc_s"] = t._gc_clock() - gc0
        t._stack.pop()
        return False


# ---------------------------------------------------------------- stats


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it.

    Returns (value, percentile, samples beyond). With samples sorted
    ascending, the k-th one (1-based) has n − k samples above it, so the
    highest qualifying rank is k = n − 10. Needs at least 11 samples."""
    n = len(values)
    if n < 11:
        raise ValueError(f"tail percentile needs at least 11 samples, got {n}")
    k = n - 10
    return sorted(values)[k - 1], 100.0 * k / n, n - k


# --------------------------------------------------------- Spark readers


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and every process below it, from ``/proc``: the benchmark's
    Python process, the driver JVM, where local executors run, and any
    Python workers the JVM starts. Time the host gave to other guests
    is not in it."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                s = fh.read()
        except OSError:  # the process ended while we looked
            continue
        f = s[s.rindex(")") + 2:].split()  # f[0] is field 3 of proc(5)
        kids.setdefault(int(f[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(kids.get(pid, ()))
    return total / _TICK


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


STAGE_FIELDS = {
    "tasks": "numTasks",
    "failed_tasks": "numFailedTasks",
    "cpu_ns": "executorCpuTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_fetch_wait_ms": "shuffleFetchWaitTime",
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
}


def group_counts(spark, group: str) -> dict:
    """Jobs, stages and summed stage metrics of one job group.

    Waits for the listener bus first: the status store is filled
    asynchronously after each job ends."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, **{k: 0 for k in STAGE_FIELDS}}
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        out["jobs"] += 1
        for stage in info.stageIds:
            try:
                sd = store.lastStageAttempt(stage)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            out["stages"] += 1
            for key, attr in STAGE_FIELDS.items():
                attrs = attr if isinstance(attr, tuple) else (attr,)
                out[key] += sum(int(getattr(sd, a)()) for a in attrs)
    return out


def plan_metrics(jplan) -> list[tuple[str, dict]]:
    """(node class, SQL metric values) for every node of an executed
    plan, descending through adaptive plans and their query stages.
    A reused exchange is not descended into: its metrics belong to the
    exchange it reuses, which the walk visits once."""
    out: list[tuple[str, dict]] = []
    stack = [jplan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        it = node.metrics().iterator()
        ms = {}
        while it.hasNext():
            kv = it.next()
            ms[kv._1()] = kv._2().value()
        out.append((cls, ms))
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif cls != "ReusedExchangeExec":
            ch = node.children()
            stack.extend(ch.apply(i) for i in range(ch.size() - 1, -1, -1))
    return out


def scan_and_output(nodes: list[tuple[str, dict]]) -> tuple[int, int]:
    """(bytes of files scanned, rows out of the topmost counting node)."""
    scan = sum(ms.get("filesSize", 0) for cls, ms in nodes if "Scan" in cls)
    rows = next((ms["numOutputRows"] for _, ms in nodes if "numOutputRows" in ms), 0)
    return int(scan), int(rows)
