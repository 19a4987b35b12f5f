"""Where each benchmark pass spends its CPU, thread by thread.

    python3 tools/cpu_by_thread.py --workload analytics --passes 4

Sets up the session and inputs as ``perfbench/run.py`` does, then runs the
workload's pass ``--passes`` times (pass 0 cold; untraced, unchecked).
Per pass it prints the wall time; the CPU seconds of the process tree's
threads (``/proc/<pid>/task/*/stat``), grouped by process and thread name
with trailing digits dropped; their sum against the tree total (threads
that ended before the pass did, and reaped processes, count in the total
only); the JVM's Janino compiles (``CodegenMetrics``) and its JIT compile
milliseconds (``CompilationMXBean``).  Working files go to
``.perfbench_work/``.
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
from run import configure_env, set_up, shut_down  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import WORKLOADS, Ctx  # noqa: E402

TICK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str:
    with open(path) as f:
        return f.read()


def thread_cpu() -> dict[str, tuple[str, float]]:
    """``pid/tid`` -> (group, CPU seconds so far) of every live thread of
    this process tree.  The group is ``process/thread`` name: ``pyspark`` is
    this Python process, ``jvm`` the Spark JVM, any other process goes by
    its own name."""
    out = {}
    for pid in _tree_stats(os.getpid()):
        try:
            comm = _read(f"/proc/{pid}/comm").strip()
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue  # the process ended
        proc = "pyspark" if pid == os.getpid() else "jvm" if comm == "java" else comm
        for tid in tids:
            try:
                name, fields = _read(f"/proc/{pid}/task/{tid}/stat").rsplit(")", 1)
            except OSError:
                continue  # the thread ended
            thread = re.sub(r"\d+$", "", name.split("(", 1)[1]).strip()
            # utime and stime are fields 14 and 15; the state (field 3) is first after ')'
            f = fields.split()
            out[f"{pid}/{tid}"] = (f"{proc}/{thread}", (int(f[11]) + int(f[12])) / TICK)
    return out


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
    tracer = Tracer(enabled=False)
    spark, _ = set_up(cores, work, tracer)
    try:
        ctx = Ctx(spark, cores, args.seed, work, tracer)
        wl, _ = WORKLOADS[args.workload]()
        wl.prepare(ctx)
        for k in range(args.passes):
            threads0, tree0, (jan0, jit0), t0 = thread_cpu(), tree_cpu_s(), jvm_counts(spark), time.perf_counter()
            for op in wl.ops(ctx):
                if op.prep is not None:
                    op.prep()
                op.run()
            wall, tree, (jan, jit) = time.perf_counter() - t0, tree_cpu_s() - tree0, jvm_counts(spark)
            groups: Counter = Counter()
            for tid, (name, s) in thread_cpu().items():
                groups[name] += s - threads0.get(tid, (name, 0.0))[1]
            print(
                f"pass {k}: wall {wall:.2f} s, tree cpu {tree:.2f} s, thread groups {sum(groups.values()):.2f} s, "
                f"janino compiles {jan - jan0}, jit {jit - jit0} ms"
            )
            for name, s in groups.most_common():
                if s >= 0.05:
                    print(f"  {s:7.2f} s  {name}")
    finally:
        shut_down(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
