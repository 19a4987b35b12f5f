"""Where each benchmark set-up and pass spends its CPU, thread by thread.

    python3 tools/cpu_by_thread.py --workload analytics --passes 4

Starts the session as ``perfbench/run.py`` does, as many times (set-up 0
starts the JVM, the later ones only a new SparkContext on it), then
prepares the inputs and runs the workload's pass ``--passes`` times (pass
0 cold; untraced, unchecked).  CPU seconds come from the process tree's
threads (``/proc/<pid>/task/*/stat``).  Processes are labelled ``driver``
(this Python process), ``jvm`` (the Spark JVM), ``py-daemon`` (a Python
child of the JVM: Spark's worker daemon) and ``py-worker`` (a child of a
daemon: a forked Python worker); any other process goes by its name.

Per set-up it prints the wall time of the session start and of the worker
warm-up, the tree's CPU and that CPU by process label (with the process
count).  Per pass it prints the wall time, the CPU grouped by process label
and thread name with trailing digits dropped, the JVM's Janino compiles
(``CodegenMetrics``) and its JIT compile milliseconds
(``CompilationMXBean``).  A process's ``reaped children`` group is the
CPU of the children it waited for during the step (``cutime + cstime``):
short-lived ones such as the ``chmod`` Hadoop's local file system forks
per file it creates, or a Python worker that exited (one seen live when
the step began counts its earlier CPU here again).  Both print the groups'
sum against the tree total: threads that ended before the step did, and
processes nobody in the tree reaped, count in the total only.  Working
files go to ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

from engine import _tree_stats, tree_cpu_s  # noqa: E402
from run import SETUPS, configure_env, shut_down, start_session, warm_workers  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import WORKLOADS, Ctx  # noqa: E402

TICK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str:
    with open(path) as f:
        return f.read()


def process_labels() -> dict[int, str]:
    """pid -> label (see the module docstring) of every live process of
    this tree."""
    stats = _tree_stats(os.getpid())
    labels: dict[int, str] = {}

    def label(pid: int) -> str:
        if pid not in labels:
            name = _read(f"/proc/{pid}/comm").strip()
            ppid = int(stats[pid][1])
            parent = label(ppid) if pid != os.getpid() and ppid in stats else None
            if pid == os.getpid():
                labels[pid] = "driver"
            elif name == "java":
                labels[pid] = "jvm"
            elif name.startswith("python") and parent in ("jvm", "py-daemon"):
                labels[pid] = "py-daemon" if parent == "jvm" else "py-worker"
            else:
                labels[pid] = name
        return labels[pid]

    for pid in stats:
        try:
            label(pid)
        except OSError:
            continue  # the process ended
    return labels


def thread_cpu() -> dict[str, tuple[str, str, float]]:
    """``pid/tid`` -> (process label, thread name, CPU seconds so far) of
    every live thread of this process tree, and ``pid/reaped`` -> (process
    label, ``reaped children``, their CPU seconds so far) of every live
    process."""
    out = {}
    for pid, proc in process_labels().items():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
            # cutime and cstime are fields 16 and 17
            f = _read(f"/proc/{pid}/stat").rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended
        out[f"{pid}/reaped"] = (proc, "reaped children", (int(f[13]) + int(f[14])) / TICK)
        for tid in tids:
            try:
                name, fields = _read(f"/proc/{pid}/task/{tid}/stat").rsplit(")", 1)
            except OSError:
                continue  # the thread ended
            thread = re.sub(r"\d+$", "", name.split("(", 1)[1]).strip()
            # utime and stime are fields 14 and 15; the state (field 3) is first after ')'
            f = fields.split()
            out[f"{pid}/{tid}"] = (proc, thread, (int(f[11]) + int(f[12])) / TICK)
    return out


def cpu_since(threads0: dict, by_thread: bool) -> tuple[Counter, Counter]:
    """CPU seconds each group used since the ``thread_cpu()`` snapshot
    ``threads0``, and how many processes each group holds; a group is the
    process label, joined with the thread name if ``by_thread``, and a
    process's reaped children are always a group of their own."""
    cpu: Counter = Counter()
    pids: dict[str, set] = {}
    for key, (proc, thread, s) in thread_cpu().items():
        group = f"{proc}/{thread}" if by_thread or key.endswith("/reaped") else proc
        cpu[group] += s - threads0.get(key, (proc, thread, 0.0))[2]
        pids.setdefault(group, set()).add(key.split("/")[0])
    return cpu, Counter({g: len(p) for g, p in pids.items()})


def jvm_counts(spark) -> tuple[int, int]:
    """(Janino compiles, JIT compile milliseconds) of the JVM so far."""
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    return compiles, jvm.java.lang.management.ManagementFactory.getCompilationMXBean().getTotalCompilationTime()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--passes", type=int, default=4)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work")
    configure_env(work)
    cores = len(os.sched_getaffinity(0))
    spark = None
    try:
        for k in range(SETUPS):
            if spark is not None:
                spark.stop()
            threads0, tree0, t0 = thread_cpu(), tree_cpu_s(), time.perf_counter()
            spark = start_session(cores, work)
            t1 = time.perf_counter()
            warm_workers(spark, cores)
            t2, tree = time.perf_counter(), tree_cpu_s() - tree0
            cpu, procs = cpu_since(threads0, by_thread=False)
            print(
                f"set-up {k}: start {t1 - t0:.2f} s, warm-up {t2 - t1:.2f} s, tree cpu {tree:.2f} s, "
                f"processes {sum(cpu.values()):.2f} s"
            )
            for name, s in cpu.most_common():
                if s >= 0.005:
                    print(f"  {s:7.2f} s  {name} ({procs[name]})")
        ctx = Ctx(spark, cores, args.seed, work, Tracer(enabled=False))
        wl, _ = WORKLOADS[args.workload]()
        wl.prepare(ctx)
        for k in range(args.passes):
            threads0, tree0, (jan0, jit0), t0 = thread_cpu(), tree_cpu_s(), jvm_counts(spark), time.perf_counter()
            for op in wl.ops(ctx):
                if op.prep is not None:
                    op.prep()
                op.run()
            wall, tree, (jan, jit) = time.perf_counter() - t0, tree_cpu_s() - tree0, jvm_counts(spark)
            groups, _ = cpu_since(threads0, by_thread=True)
            print(
                f"pass {k}: wall {wall:.2f} s, tree cpu {tree:.2f} s, thread groups {sum(groups.values()):.2f} s, "
                f"janino compiles {jan - jan0}, jit {jit - jit0} ms"
            )
            for name, s in groups.most_common():
                if s >= 0.05:
                    print(f"  {s:7.2f} s  {name}")
    finally:
        if spark is not None:
            shut_down(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
