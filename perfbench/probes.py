"""Measurements taken from outside the engine: host and process counters
from ``/proc``, JVM counters through the py4j gateway, and an in-memory
span tracer that counts Spark jobs per span through job groups."""

from __future__ import annotations

import ctypes
import os
import signal
import statistics
import time
import uuid
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- host

def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user … steal), in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(sum(d), 1)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return s[s.rindex(")") + 2:].split()


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """user+sys CPU of the processes, including children they reaped."""
    total = 0
    for p in pids:
        st = _stat(p)
        if st:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def become_subreaper() -> None:
    """Make this process the parent of every orphaned process below it, so
    that ``reap_children`` can wait for them too (the JVM, for one, never
    reaps the shell its launch script left behind)."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children(timeout: float) -> None:
    """Wait until this process has no children left; after ``timeout``
    seconds, kill every process still alive below it."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in descendants(os.getpid())[1:]:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return size, files


# ---------------------------------------------------------------- JVM

class Jvm:
    """Counters of the driver JVM behind a SparkSession."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.pid = int(self.jvm.java.lang.ProcessHandle.current().pid())
        self._codegen = self.jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._mgmt = self.jvm.java.lang.management.ManagementFactory
        self.tracker = self.sc.statusTracker()

    def codegen_compiles(self) -> int:
        return int(self._codegen.METRIC_COMPILATION_TIME().getCount())

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._mgmt.getGarbageCollectorMXBeans()) / 1e3

    def input_arguments(self) -> list[str]:
        return list(self._mgmt.getRuntimeMXBean().getInputArguments())


# ---------------------------------------------------------------- spans

class Tracer:
    """Spans kept in memory: name, start, end, parent, plus counts.  A span
    opened with ``jobs=True`` runs its calls under a fresh Spark job group
    and records the jobs and stages they fired.  ``own_s`` sums the time
    the tracer spends on its own bookkeeping (callers may add theirs)."""

    def __init__(self, jvm: Jvm | None):
        self.jvm = jvm
        self.spans: list[dict] = []
        self.own_s = 0.0
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        t_book = time.perf_counter()
        sp = {"id": len(self.spans), "name": name,
              "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(sp)
        self._stack.append(sp["id"])
        group = None
        if jobs:
            group = f"perfbench-{uuid.uuid4().hex[:12]}"
            self.jvm.sc.setJobGroup(group, name)
        sp["start"] = time.perf_counter() - self._t0
        self.own_s += sp["start"] + self._t0 - t_book
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter() - self._t0
            t_book = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self.jvm.sc.setLocalProperty("spark.jobGroup.id", None)
                ids = self.jvm.tracker.getJobIdsForGroup(group)
                sp["jobs"] = len(ids)
                sp["stages"] = sum(
                    len(info.stageIds)
                    for info in map(self.jvm.tracker.getJobInfo, ids) if info
                )
            self.own_s += time.perf_counter() - t_book

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def report(self) -> dict[str, dict]:
        """Per span name: count, median and total self time, job totals."""
        selfs = self.self_times()
        by: dict[str, list] = {}
        for s in self.spans:
            by.setdefault(s["name"], []).append(s)
        out = {}
        for name, ss in by.items():
            t = [selfs[s["id"]] for s in ss]
            out[name] = {"n": len(ss), "self_p50_s": statistics.median(t),
                         "self_total_s": sum(t)}
            if "jobs" in ss[0]:
                out[name]["jobs"] = sum(s["jobs"] for s in ss)
                out[name]["stages"] = sum(s["stages"] for s in ss)
        return out
