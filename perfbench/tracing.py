"""Spans, Spark job/stage statistics and host context for the traced run.

Spans live in memory (name, start, end, parent, run id) and are written
as JSON when the run ends. Spark statistics are scoped by job group:
a span sets ``sc.setJobGroup`` before the call it wraps and snapshots
its jobs' stage data from the status store when it ends, so the
store's ``spark.ui.retainedJobs`` eviction never loses a span's jobs.
Everything here is read from the driver; no UI port is needed.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
import uuid
from dataclasses import dataclass, field

_HZ = os.sysconf("SC_CLK_TCK")


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    exec_run_s: float = 0.0
    shuffle_bytes: int = 0
    input_bytes: int = 0
    task_skew: float = 0.0      # max / median task run time in the widest stage


class SparkStats:
    """Reads finished jobs of a job group from the driver's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._jvm = self.sc._jvm
        self._seen: set[int] = set()

    def _stages_of(self, job_id: int) -> list[int]:
        seq = self._store.job(job_id).stageIds()
        return [int(seq.apply(i)) for i in range(seq.length())]

    def collect(self, group: str) -> JobStats:
        """Stats of the group's jobs not collected before."""
        out = JobStats()
        new = [j for j in self.sc.statusTracker().getJobIdsForGroup(group) if j not in self._seen]
        widest: tuple[int, int, int] | None = None  # (tasks, stage, attempt)
        empty = self._jvm.java.util.ArrayList()
        no_q = self.sc._gateway.new_array(self._jvm.double, 0)
        for job in new:
            self._seen.add(job)
            out.jobs += 1
            for sid in self._stages_of(job):
                attempts = self._store.stageData(sid, False, empty, False, no_q)
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out.stages += 1
                    out.exec_run_s += sd.executorRunTime() / 1000.0
                    out.shuffle_bytes += int(sd.shuffleWriteBytes())
                    out.input_bytes += int(sd.inputBytes())
                    if widest is None or sd.numTasks() > widest[0]:
                        widest = (int(sd.numTasks()), sid, int(sd.attemptId()))
        if widest is not None and widest[0] > 1:
            tasks = self._store.taskList(widest[1], widest[2], widest[0])
            runs = []
            for k in range(tasks.size()):
                m = tasks.apply(k).taskMetrics()
                if m.isDefined():
                    runs.append(m.get().executorRunTime())
            med = statistics.median(runs) if runs else 0
            out.task_skew = max(runs) / med if med > 0 else 1.0
        elif widest is not None:
            out.task_skew = 1.0
        return out


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    stats: JobStats | None = None
    extra: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects the spans of one run; with a Spark session, each span
    also gets the stats of the Spark jobs it launched."""

    def __init__(self, spark=None):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self.stats = SparkStats(spark) if spark is not None else None
        self.bookkeeping_s = 0.0
        self._stack: list[tuple[str, str]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Time a block; its Spark jobs are those launched while it is
        the innermost open span (an enclosing span keeps the rest)."""
        parent = self._stack[-1] if self._stack else None
        group = f"{self.run_id}:{len(self.spans) + len(self._stack)}:{name}"
        sc = self.stats.sc if self.stats is not None else None
        if sc is not None:
            sc.setJobGroup(group, name)
        sp = Span(name, time.perf_counter(), parent=parent[0] if parent else None)
        self._stack.append((name, group))
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                t = time.perf_counter()
                sp.stats = self.stats.collect(group)
                if parent is not None:
                    sc.setJobGroup(parent[1], parent[0])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                self.bookkeeping_s += time.perf_counter() - t
            self.spans.append(sp)

    def to_json(self) -> list[dict]:
        out = []
        for s in self.spans:
            d = {"run_id": self.run_id, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "wall_s": s.wall_s}
            if s.stats is not None:
                d.update(vars(s.stats))
            d.update(s.extra)
            out.append(d)
        return out


# ---------------------------------------------------------------------------
# process tree memory


def _descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def tree_pss_mb() -> float:
    """Proportional set size of this process and all its descendants (the
    JVM and the Python workers), in MB. The Python workers are forked from
    one daemon and share most of their pages; PSS counts a shared page
    once, split among its sharers, where RSS counts it in every worker, so
    PSS does not jump with the number of idle workers alive."""
    kb = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except (OSError, ValueError):
            continue
    return kb / 1e3


class PeakMemory:
    """Samples the process tree's PSS on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        import threading

        self.peak_mb = 0.0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_pss_mb())


# ---------------------------------------------------------------------------
# host context, from the repository's own bench helpers


class HostContext:
    """CPU time used outside this process tree, hypervisor steal, and a
    fixed-work single-thread canary around the timed part of a run."""

    def __init__(self):
        from bench import _busy_jiffies, _cpu_canary, _tree_jiffies

        self._busy, self._tree, self._canary = _busy_jiffies, _tree_jiffies, _cpu_canary

    def __enter__(self) -> "HostContext":
        self.canary_s = self._canary()
        self._t0 = time.perf_counter()
        (self._b0, _, self._s0), self._j0 = self._busy(), self._tree()
        return self

    def __exit__(self, *exc) -> None:
        elapsed = max(time.perf_counter() - self._t0, 1e-9)
        (b1, _, s1), j1 = self._busy(), self._tree()
        denom = _HZ * elapsed
        self.ext_cores = max(0, (b1 - self._b0) - (j1 - self._j0)) / denom
        self.steal_cores = max(0, s1 - self._s0) / denom

    def metrics(self) -> dict:
        return {
            "host.canary_s": self.canary_s,
            "host.ext_cores": self.ext_cores,
            "host.steal_cores": self.steal_cores,
        }


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    live descendants: the JVM and the Python workers. Unlike wall time
    it leaves out the time the host runs other work or steals the CPU."""
    from bench import _tree_jiffies

    return _tree_jiffies() / _HZ


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                continue
    return total, files
