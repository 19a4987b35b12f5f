"""Spark engine counters and process memory, read from outside the package.

:class:`StageCounters` reads the driver's status store (the store behind
Spark's UI, present with the UI off) and reports what the stages completed
since a snapshot did: tasks, task time, GC time, shuffle bytes, spill and
the task skew of the longest stage.  :class:`RssSampler` samples the
resident memory of this process and all its descendants (the driver JVM
and its Python workers) from ``/proc``; :func:`tree_cpu_s` reads their
CPU time.
"""

from __future__ import annotations

import os
import threading
import time

MB = 1024.0 * 1024.0


class StageCounters:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jvm = self._sc._jvm
        self._gw = self._sc._gateway

    def _store(self):
        return self._sc._jsc.sc().statusStore()

    def _stages(self) -> list:
        L = self._jvm.java.util.ArrayList
        seq = self._store().stageList(L(), False, False, self._gw.new_array(self._jvm.double, 0), L())
        return list(self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))

    def _jobs(self) -> set[int]:
        return set(self._sc.statusTracker().getJobIdsForGroup(None))

    def snapshot(self) -> tuple[set, set[int]]:
        return {(s.stageId(), s.attemptId()) for s in self._stages()}, self._jobs()

    def since(self, snap: tuple[set, set[int]]) -> dict:
        seen, jobs = snap
        new = [
            s for s in self._stages()
            if (s.stageId(), s.attemptId()) not in seen and s.status().toString() == "COMPLETE"
        ]
        run_ms = sum(s.executorRunTime() for s in new)
        out = {
            "jobs": len(self._jobs() - jobs),
            "stages": len(new),
            "tasks": sum(s.numTasks() for s in new),
            "executor_run_s": run_ms / 1000.0,
            "gc_share": sum(s.jvmGcTime() for s in new) / run_ms if run_ms else 0.0,
            "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in new) / MB,
            "shuffle_read_mb": sum(s.shuffleReadBytes() for s in new) / MB,
            "spill_mb": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in new) / MB,
            "task_skew": 1.0,
        }
        if new:
            longest = max(new, key=lambda s: s.executorRunTime())
            qs = self._gw.new_array(self._jvm.double, 2)
            qs[0], qs[1] = 0.5, 1.0
            summ = self._store().taskSummary(longest.stageId(), longest.attemptId(), qs)
            if summ.isDefined():
                run = summ.get().executorRunTime()
                med, top = run.apply(0), run.apply(1)
                out["task_skew"] = top / med if med > 0 else 1.0
        return out


def _tree_stats(root: int) -> dict[int, list[str]]:
    """pid -> ``/proc/<pid>/stat`` fields after the command name (the first
    is the state), for ``root`` and all its descendants."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces; the fields follow its ')'
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid in stats:
            out[pid] = stats[pid]
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) this process
    tree has used: the driver, its JVM and the Python workers.  Time the
    host steals from a virtual machine is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    # utime, stime, cutime, cstime are fields 14-17 of the stat line
    return sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]) for f in _tree_stats(root or os.getpid()).values()) / tick


def _tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree_stats(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Background thread keeping the peak resident memory of this process
    tree; use as a context manager.  It samples only while ``enabled``,
    and adds the time each sample takes to ``busy_s``."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.enabled = True
        self.peak_bytes = 0
        self.busy_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            if self.enabled:
                t0 = time.perf_counter()
                self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(pid))
                self.busy_s += time.perf_counter() - t0
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / MB
