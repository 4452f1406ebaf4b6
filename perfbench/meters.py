"""Outside-in meters: process-tree CPU and memory, box state, and a span
tracer that reads the Spark engine layers through one job group per span.

Nothing here changes package code: CPU and memory come from ``/proc``,
Spark counters from the driver's status tracker and status store.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may contain spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU of this process tree, including reaped children
    (``cutime``/``cstime``), so short-lived probe subprocesses count once
    their parent waits for them.  Steal does not advance these counters."""
    total = 0
    for pid in process_tree():
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def jvm_pid() -> int | None:
    """The Spark driver JVM started by this process."""
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


class PeakRss:
    """Peak resident memory of driver + JVM over an interval, from the
    kernel's high-water mark (reset through ``clear_refs``)."""

    def __init__(self, pids: list[int]):
        self.pids = pids

    def reset(self) -> None:
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")

    def read_mb(self) -> float:
        total_kb = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        return total_kb / 1024.0


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    start = int(_stat_fields(os.getpid())[19]) / _TICK
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class BoxState:
    """Steal share and load over an interval: passes that ran on a
    contended box are flagged so that no one compares their records."""

    def __init__(self):
        self.t0 = _cpu_ticks()

    def read(self) -> dict:
        steal0, total0 = self.t0
        steal1, total1 = _cpu_ticks()
        steal_pct = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)
        load1 = os.getloadavg()[0]
        cores = nproc()
        return {
            "steal_pct": round(steal_pct, 3),
            "loadavg_1m": round(load1, 2),
            "nproc": cores,
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "contended": steal_pct > 1.0 or load1 > 2.0 * cores,
        }


# ---- spans ------------------------------------------------------------

@dataclass
class Span:
    name: str
    sid: int
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    #: stub ffprobe calls logged while this span was innermost
    calls: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class SparkReader:
    """Per-job-group Spark counters read from the driver's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        gw = self.sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 0)
        self._empty = gw.jvm.java.util.ArrayList()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def read_group(self, group: str) -> dict:
        """Counters of the jobs started under ``group``.  Counts take only
        succeeded jobs and completed stages: adaptive execution can cancel
        a stage it no longer needs, and when that happens depends on
        timing.  Executor time, shuffle and spill include every stage that
        ran, cancelled or not, since that work was done."""
        tracker = self.sc.statusTracker()
        out = {
            "spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0,
            "exec.run_s": 0.0, "exec.cpu_s": 0.0, "shuffle.read_bytes": 0,
            "shuffle.write_bytes": 0, "spill.bytes": 0,
        }
        jobs = list(tracker.getJobIdsForGroup(group))
        if not jobs:
            return out
        self.jsc.listenerBus().waitUntilEmpty()
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                out["spark.jobs"] += info.status == "SUCCEEDED"
                stage_ids.update(info.stageIds)
        store = self.jsc.statusStore()
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, False, self._empty, False, self._quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                status = st.status().toString()
                if status == "SKIPPED":
                    continue
                if status == "COMPLETE":
                    out["spark.stages"] += 1
                    out["spark.tasks"] += st.numCompleteTasks()
                out["exec.run_s"] += st.executorRunTime() / 1e3
                out["exec.cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle.read_bytes"] += st.shuffleReadBytes()
                out["shuffle.write_bytes"] += st.shuffleWriteBytes()
                out["spill.bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


class Tracer:
    """In-memory spans around calls into the program's layers.

    Each span runs its Spark jobs under its own job group, so the
    engine counters it reports are exactly the jobs started inside it
    (not a list-delta).  ``overhead_s`` is the time spent in the
    tracer's own work: span bookkeeping, job-group and status-store
    reads, stub-log parsing, and any reads wrapped in ``bookkeeping()``.
    """

    def __init__(self, spark=None, stub_log=None):
        self.spark = SparkReader(spark) if spark is not None else None
        self.stub_log = stub_log
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        sp = self._open(name, counts)
        try:
            yield sp
        finally:
            self._close(sp)

    @contextlib.contextmanager
    def bookkeeping(self):
        """Count the enclosed tracing work as tracer overhead."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t

    def _drain_stub(self) -> None:
        if self.stub_log is not None:
            calls = self.stub_log.take()
            if self._stack:
                self._stack[-1].calls.extend(calls)

    def _open(self, name: str, counts: dict) -> Span:
        t = time.perf_counter()
        self._drain_stub()
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(name, len(self.spans), parent, 0.0, counts=dict(counts))
        self.spans.append(sp)
        self._stack.append(sp)
        if self.spark is not None:
            self.spark.set_group(f"perfbench-{sp.sid}")
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._drain_stub()
        self._stack.pop()
        if self.spark is not None:
            sp.counts.update(self.spark.read_group(f"perfbench-{sp.sid}"))
            up = self._stack[-1].sid if self._stack else None
            self.spark.set_group(None if up is None else f"perfbench-{up}")
        self.overhead_s += time.perf_counter() - sp.end

    def self_s(self, sp: Span) -> float:
        """Span duration minus the part its children cover."""
        return sp.dur - sum(c.dur for c in self.spans if c.parent == sp.sid)

    def subtree(self, sp: Span) -> list[Span]:
        """``sp`` and all spans below it."""
        out, todo = [], [sp.sid]
        while todo:
            sid = todo.pop()
            out.append(self.spans[sid])
            todo.extend(c.sid for c in self.spans if c.parent == sid)
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "id": s.sid, "parent": s.parent,
             "start": round(s.start, 6), "end": round(s.end, 6),
             "self_s": round(self.self_s(s), 6), "counts": s.counts,
             "stub_calls": len(s.calls)}
            for s in self.spans
        ]

