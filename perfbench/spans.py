"""In-memory spans with Spark task counters, recorded from the benchmark side.

A span covers one call into a layer of the engine. Each span runs its Spark
jobs under a job group of its own, so the stages those jobs ran can be read
back from the driver's status store right after the span ends (the store
keeps only a bounded number of stages). Spans stay in memory until the run
ends; `Tracer.dump` writes them out.

A span's `cpu_s` is the CPU its work burned on the executors: the CPU time
of its tasks' JVM threads (from the status store) plus the CPU time of the
Spark Python workers (from /proc) while the span ran, less its children's.
Both count only time a thread actually ran, so the figure does not grow when
the host steals CPU from this machine, and it leaves out the JVM's JIT
compiler and GC threads, whose share drifts from one operation to the next.

Self time of a span is its duration minus the part of that interval its
direct children cover; over one root, the children's self times plus the
root's self time add up to the root's duration.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

#: Spark counters summed over the stages a span's jobs ran, and `cpu_s`.
COUNTERS = (
    "cpu_s", "task_s", "tasks", "task_max_s", "shuffle_write_mb", "spill_mb", "gc_s", "failed_tasks"
)
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int = 0
    counts: dict = field(default_factory=dict)
    #: time spent reading this span's counters after it ended (tracing cost
    #: that falls into the parent's self time)
    read_s: float = 0.0
    #: Python-worker CPU seconds over the whole span, children included
    worker_cpu_s: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
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


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the time covered by its direct children."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [s.wall - covered(kids.get(i, []), s.start, s.end) for i, s in enumerate(spans)]


def read_proc() -> tuple[dict[int, list[int]], dict[int, int]]:
    """Children per parent pid, and CPU ticks per pid (user + system, with
    its reaped children), of every process in /proc."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while /proc was listed
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        kids.setdefault(int(fields[1]), []).append(int(entry))
        ticks[int(entry)] = sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return kids, ticks


def descendants(kids: dict[int, list[int]], root: int) -> list[int]:
    """Every pid below `root` in the parent -> children map `kids`."""
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def descendants_cpu_s(root: int) -> float:
    """User + system CPU seconds of every live descendant of process `root`,
    each with its reaped children (for the Spark JVM: its Python workers)."""
    kids, ticks = read_proc()
    return sum(ticks[pid] for pid in descendants(kids, root)) / CLOCK_TICKS


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def stage_counters(spark, group: str) -> dict:
    """Task counters summed over every stage the jobs of `group` ran."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    stage_ids = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    q_max = sc._gateway.new_array(jvm.double, 1)
    q_max[0] = 1.0
    out = dict.fromkeys(COUNTERS, 0.0)
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # stage evicted from the store or never submitted
            continue
        if st.status().toString() == "SKIPPED":
            continue
        out["cpu_s"] += st.executorCpuTime() / 1e9
        out["task_s"] += st.executorRunTime() / 1e3
        out["tasks"] += st.numCompleteTasks()
        out["failed_tasks"] += st.numFailedTasks()
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        out["gc_s"] += st.jvmGcTime() / 1e3
        summary = store.taskSummary(sid, st.attemptId(), q_max)
        if summary.isDefined():
            slowest = summary.get().executorRunTime().apply(0) / 1e3
            out["task_max_s"] = max(out["task_max_s"], slowest)
    return out


class Tracer:
    """Collects spans; `span()` nests by call order on one thread."""

    def __init__(self, spark=None):
        self.spark = spark
        self.jvm = jvm_pid(spark) if spark is not None else None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = 0

    @property
    def current_op(self) -> int:
        return self._op

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str, **counts):
        sc = self.spark.sparkContext if self.spark is not None else None
        workers0 = descendants_cpu_s(self.jvm) if sc is not None else 0.0
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.monotonic(), parent=parent, op=self._op, counts=dict(counts))
        self.spans.append(sp)
        self._stack.append(idx)
        group = f"{name}#{idx}"
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    outer = self._stack[-1]
                    sc.setJobGroup(f"{self.spans[outer].name}#{outer}", self.spans[outer].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                sp.worker_cpu_s = descendants_cpu_s(self.jvm) - workers0
                kids = sum(c.worker_cpu_s for c in self.spans[idx + 1 :] if c.parent == idx)
                sp.counts.update(stage_counters(self.spark, group))
                sp.counts["cpu_s"] += sp.worker_cpu_s - kids
                sp.read_s = time.monotonic() - sp.end

    def read_s(self, op: int) -> float:
        return sum(sp.read_s for sp in self.spans if sp.op == op)

    def layer_totals(self, op: int | None = None) -> dict[str, dict]:
        """Per span name: summed self time (`wall_s`) and counters."""
        out: dict[str, dict] = {}
        for sp, self_s in zip(self.spans, self_times(self.spans)):
            if op is not None and sp.op != op:
                continue
            agg = out.setdefault(sp.name, {"wall_s": 0.0})
            agg["wall_s"] += self_s
            for k, v in sp.counts.items():
                if isinstance(v, (int, float)) and not isinstance(v, bool):
                    agg[k] = max(agg.get(k, 0.0), v) if k == "task_max_s" else agg.get(k, 0.0) + v
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp, self_s in zip(self.spans, self_times(self.spans)):
                json.dump({**asdict(sp), "wall_s": sp.wall, "self_s": self_s}, f)
                f.write("\n")
