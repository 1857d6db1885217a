"""Spans around calls into the program's layers, with public Spark job
accounting, plus the process-level measurements (RSS, load average).

A span is recorded around one call into a layer's public function: name,
start, end, parent span and the request it belongs to. Each span runs
under its own Spark job group (``setJobGroup``), so after the run
``statusTracker()`` gives the jobs, stages and tasks that call fired: a
time and its job count always come from the same call. A nested span
takes the jobs fired inside it; its parent keeps the rest.

With tracing off, ``call`` is a plain call: no groups, no spans.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    layer: str
    parent: int | None
    request: int | None
    start: float
    end: float = 0.0
    group: str = ""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    children_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.request: int | None = None

    def call(self, layer: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), layer, parent.sid if parent else None,
                    self.request, 0.0)
        span.group = f"sparqlbench-{os.getpid()}-{span.sid}"
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(span.group, layer)
        span.start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children_s += span.dur
                self.sc.setJobGroup(parent.group, parent.layer)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def resolve_jobs(self, timeout_s: float = 10.0) -> None:
        """Fill jobs/stages/tasks of every span from statusTracker(). The
        status store is fed asynchronously, so wait until no job is
        active before reading it."""
        if not self.enabled:
            return
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        while tracker.getActiveJobsIds() and time.monotonic() < deadline:
            time.sleep(0.05)
        time.sleep(0.2)
        for span in self.spans:
            stage_ids = set()
            for jid in tracker.getJobIdsForGroup(span.group):
                info = tracker.getJobInfo(jid)
                if info is not None:
                    span.jobs += 1
                    stage_ids.update(info.stageIds)
            for sid in stage_ids:
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    span.stages += 1
                    span.tasks += st.numCompletedTasks


# --- process-level measurements ----------------------------------------------


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def child_pids(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def rss_peak_mb() -> float:
    """Peak RSS of this Python process plus its direct children (the
    Spark JVM), each process's own high-water mark."""
    me = os.getpid()
    return sum(_vm_hwm_kb(p) for p in [me, *child_pids(me)]) / 1024


def loadavg_1m() -> float:
    return os.getloadavg()[0]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far: on a virtual machine
    the steal share of a stretch of time is how much of it the host gave
    to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def percentile(values: list[float], q: float) -> float:
    """Linearly interpolated percentile (q in 0..100) of a sample."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1]
