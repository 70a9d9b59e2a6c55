"""In-memory spans, per-op Spark counters, the process-tree RSS probe,
and the steal-adjusted clock.

Everything here observes the engine from outside: spans wrap the
engine's public module functions at run time (the traced run only), and
the Spark counters are read from Spark's own status stores after each
operation. Nothing in ``db2pq_spark`` is edited.
"""

from __future__ import annotations

import functools
import os
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """Spans kept in memory: name, start, end, parent span, op id.

    A disabled tracer records nothing, so the untraced run pays only the
    ``enabled`` check at the benchmark's own op boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self.op: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def open(self, name: str) -> int | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + value

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span named
        ``name``. ``after(result, state)`` may record counts, where
        ``state = before()`` was taken just before the call. Undone by
        :meth:`unwrap_all`."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            state = before() if before is not None else None
            idx = self.open(name)
            try:
                out = orig(*args, **kwargs)
            finally:
                self.close(idx)
            if after is not None:
                after(out, state)
            return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- reports -------------------------------------------------------------

    def self_times(self) -> list[float]:
        """Per-span self time: duration minus its children's durations
        (children nest strictly inside their parent on one thread)."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        return [sp.end - sp.start - c for sp, c in zip(self.spans, child)]

    def by_layer(self) -> dict[str, dict[str, float]]:
        """{span name: {"self_s", "total_s", "calls"}}."""
        out: dict[str, dict[str, float]] = {}
        for sp, st in zip(self.spans, self.self_times()):
            agg = out.setdefault(sp.name, {"self_s": 0.0, "total_s": 0.0,
                                           "calls": 0})
            agg["self_s"] += st
            agg["total_s"] += sp.end - sp.start
            agg["calls"] += 1
        return out

    def to_json(self) -> dict:
        return {"spans": [sp.__dict__ for sp in self.spans],
                "counts": self.counts}


# -- Spark status stores -----------------------------------------------------

SPARK_COUNTERS = ("jobs stages tasks executor_run_s gc_s shuffle_read_bytes "
                  "shuffle_write_bytes spill_bytes input_bytes output_bytes "
                  "pyworker_cpu_s").split()


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


class SparkCounters:
    """Deltas of Spark's core status store since the last :meth:`delta`:
    jobs, stages, tasks, executor run and GC time, shuffle / spill / I/O
    bytes, and the Python workers' CPU time from ``/proc``."""

    def __init__(self, spark):
        self._tracker = spark.sparkContext.statusTracker()
        self._core = spark.sparkContext._jsc.sc().statusStore()
        self._seen_jobs = self.job_ids()
        self._pyworker_cpu = pyworker_cpu_seconds()

    def job_ids(self) -> set[int]:
        return set(self._tracker.getJobIdsForGroup())

    def job_seconds(self, job_ids: set[int]) -> float:
        """Time covered by the given jobs, submission to completion (the
        union of their intervals: broadcast jobs overlap their parent)."""
        spans = []
        for jid in job_ids:
            j = self._core.job(jid)
            if j.submissionTime().isDefined() and j.completionTime().isDefined():
                spans.append((j.submissionTime().get().getTime(),
                              j.completionTime().get().getTime()))
        total, reach = 0, None
        for lo, hi in sorted(spans):
            if reach is None or lo > reach:
                total += hi - lo
                reach = hi
            elif hi > reach:
                total += hi - reach
                reach = hi
        return total / 1000.0

    def delta(self) -> dict[str, float]:
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        new = self.job_ids() - self._seen_jobs
        self._seen_jobs |= new
        stage_ids: set[int] = set()
        for jid in new:
            stage_ids.update(_seq(self._core.job(jid).stageIds()))
        out["jobs"] = len(new)
        for sid in sorted(stage_ids):
            try:
                st = self._core.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                continue
            if str(st.status()) != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["gc_s"] += st.jvmGcTime() / 1000.0
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["input_bytes"] += st.inputBytes()
            out["output_bytes"] += st.outputBytes()
        cpu = pyworker_cpu_seconds()
        out["pyworker_cpu_s"] = cpu - self._pyworker_cpu
        self._pyworker_cpu = cpu
        return out


# -- /proc -------------------------------------------------------------------

def pyworker_cpu_seconds() -> float:
    """CPU time of Spark's Python worker daemon and its workers, reaped
    workers included (the daemon's cutime/cstime)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as fh:
                if b"pyspark.daemon" not in fh.read():
                    continue
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])
    return total / tick


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def steal_seconds() -> float:
    """CPU time the hypervisor took from this machine's CPUs, summed over
    them (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


@dataclass
class Clock:
    """Wall time and machine steal at one instant.

    On a virtual machine the hypervisor runs other guests on the host's
    cores and "steals" the VM's CPUs while they want to run; the VM counts
    that time in ``/proc/stat``. :meth:`adjusted` takes it out of a wall
    interval: an interval during which the VM lost ``s`` CPUs on average
    is divided by ``1 + s``. That factor is measured, not derived: runs of
    this benchmark with 0.1 to 0.5 CPUs of steal were slower than runs
    without by about ``1 + s``, where scaling by the benchmark's own CPU
    share, ``cpu / (cpu + steal)``, recovered only about half of the
    slowdown. With no steal the adjusted time is the wall time."""

    wall: float
    steal: float

    # /proc/stat is read outside the wall interval, so the steal window
    # encloses it
    @classmethod
    def start(cls) -> "Clock":
        steal = steal_seconds()
        return cls(time.perf_counter(), steal)

    @classmethod
    def stop(cls) -> "Clock":
        wall = time.perf_counter()
        return cls(wall, steal_seconds())

    def adjusted(self, end: "Clock") -> float:
        wall, steal = end.wall - self.wall, end.steal - self.steal
        return wall * wall / (wall + steal) if wall > 0 else wall


def tree_peak_rss_bytes() -> int:
    """Sum of the peak resident sets (``VmHWM``) of this process and all
    its live descendants: the driver, the JVM and the Python workers."""
    kids = _children()
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total
