"""Benchmark entry point for the ``facturas_spark`` engine.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py``) from any working directory, with
the repository root taken from this file's location.  It

1. starts the Spark session several times (``local[nproc]``, cores passed
   explicitly) and warms the Python workers, timing each set-up;
2. makes or picks the workload's inputs from ``--seed`` and prepares them;
3. runs passes in a closed loop for ``--seconds`` (a cold first pass, then
   warm passes, at least ``MIN_WARM`` of them);
4. checks every output after the measured region;
5. prints, as the last line, ``{"correct", "attempted", "failed",
   "metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
   metrics with ``--trace 1``.

The traced run times the same passes, at least ``MIN_WARM + 1`` warm ones.
The first two passes and every later odd one run traced: spans
around every call into the package, and a thread sampling the memory of
the process tree.  The even passes from the third on run untraced, so the
run reports its own tracing overhead (``trace.overhead_share``, odd against
even passes from the third on; the second pass, still warming up, is left
out) and its warm wall times (``wall.*``; the untraced run bounds CPU time,
see README.md) free of it.  One cold and one warm pass of
the workload's probe (layers kept out of the timed passes) follow.  The
run also prints a ``{"layers": ...}`` line with the workload's own layer
figures and writes every span to ``.perfbench_work/traces/``.  Exit codes:
0 all outputs correct, 1 a check failed or an operation raised, 2 cannot
run here.
All files the run writes stay under ``.perfbench_work/`` in the root.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time
import traceback

import pandas as pd

from engine import tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3  # session set-ups per run; setup_s is their median
MIN_WARM = 2  # warm passes per run, at the least


def parse_args(argv: list[str] | None):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="length of the measured region")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``, and
    let the Python workers import the package from the repository root."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the package's own GC choice; without perf data and with the JVM's
    # temp dir inside ``work``, since both would otherwise go to /tmp
    os.environ["SPARK_GRAFT_JVM_OPTS"] = f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the short-lived JVM that builds the driver's command line; perf data
    # would go to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def start_session(cores: int, work: str):
    from facturas_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark, cores: int) -> None:
    """Start one Python worker per core with the extraction kernel
    imported, and run one JVM aggregation."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def touch(ids: pd.Series) -> pd.Series:
        import facturas_spark.extraction.udf  # noqa: F401

        return ids + 1

    spark.range(0, cores * 8, 1, cores).select(touch("id").alias("x")).agg(F.sum("x")).collect()


def set_up(cores: int, work: str, tracer) -> tuple:
    """Start the session ``SETUPS`` times (stopping all but the last);
    returns the live session and per-set-up (start_s, warmup_s, cpu_s):
    the wall seconds of the two steps and the CPU seconds of the whole."""
    times = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        with tracer.op("session.setup"):
            cpu0 = tree_cpu_s()
            t0 = time.perf_counter()
            spark = start_session(cores, work)
            t1 = time.perf_counter()
            warm_workers(spark, cores)
            times.append((t1 - t0, time.perf_counter() - t1, tree_cpu_s() - cpu0))
    return spark, times


def shut_down(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def run_pass(wl, ctx, counters, k: int) -> tuple[dict, int, float]:
    """One pass: returns (per-op records, ops that raised, timed seconds)."""
    tracker = ctx.spark.sparkContext.statusTracker()
    snap = counters.snapshot() if counters else None
    records, raised, total = {}, 0, 0.0
    for op in wl.ops(ctx):
        if op.prep is not None:
            op.prep()
        jobs = set(tracker.getJobIdsForGroup(None))
        try:
            with ctx.tracer.op(op.name, **{"pass": k}):
                cpu0 = tree_cpu_s()
                t0 = time.perf_counter()
                out = op.run()
                dt = time.perf_counter() - t0
                cpu = tree_cpu_s() - cpu0
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            traceback.print_exc()
            raised += 1
            continue
        total += dt
        records[op.name] = {"s": dt, "cpu_s": cpu, "out": out, "jobs": len(set(tracker.getJobIdsForGroup(None)) - jobs)}
    if counters:
        records["_engine"] = counters.since(snap)
    return records, raised, total


def measure(wl, ctx, counters, seconds: float, min_warm: int, before=None) -> tuple[list[dict], list[float], int]:
    """The cold pass, then warm passes while the next one is expected to end
    within ``seconds`` of the start, at least ``min_warm`` of them.
    ``before(k)``, if given, is called before pass ``k``."""
    passes, times, raised = [], [], 0
    deadline = time.perf_counter() + seconds
    while len(passes) < 1 + min_warm or time.perf_counter() + statistics.median(times[1:]) <= deadline:
        if before is not None:
            before(len(passes))
        rec, bad, dt = run_pass(wl, ctx, counters, len(passes))
        passes.append(rec)
        times.append(dt)
        raised += bad
    return passes, times, raised


def verify(wl, ctx, passes: list[dict], times: list[float], raised: int) -> tuple[int, int]:
    """Check the outputs and print each pass's call times to stderr;
    returns (operations attempted, operations failed)."""
    attempted = len(passes) * len(wl.ops(ctx))
    wrong = {} if raised else wl.check(ctx, passes)
    for key, msg in sorted(wrong.items()):
        print(f"perfbench: pass {key[0]} op {key[1]}: {msg}", file=sys.stderr)
    for k, rec in enumerate(passes):
        ops = {name: round(r["s"], 3) for name, r in rec.items() if name != "_engine"}
        cpu = sum(r["cpu_s"] for name, r in rec.items() if name != "_engine")
        print(f"perfbench: pass {k} {times[k]:.3f} s, cpu {cpu:.2f} s {ops}", file=sys.stderr)
    return attempted, raised + len(wrong)


def main(argv: list[str] | None = None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "facturas_spark", "__init__.py")):
        print(f"perfbench: no facturas_spark package under {ROOT}; nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work")
    configure_env(work)

    from engine import RssSampler, StageCounters
    from stats import failed_share
    from tracing import Tracer
    from workloads import WORKLOADS, Ctx

    t_start = time.perf_counter()
    phase = lambda what: print(f"perfbench: {time.perf_counter() - t_start:7.2f} s {what}", file=sys.stderr, flush=True)  # noqa: E731
    cores = len(os.sched_getaffinity(0))  # what nproc reports
    tracer = Tracer(enabled=bool(args.trace))
    wl, probe = WORKLOADS[args.workload]()
    # memory is a per-layer metric: sample it only in the traced run
    with RssSampler() if args.trace else contextlib.nullcontext() as rss:
        spark, setups = set_up(cores, work, tracer)
        try:
            phase(f"set up {[round(a + b, 3) for a, b, _ in setups]} s, cpu {[round(c, 2) for _, _, c in setups]} s")
            ctx = Ctx(spark, cores, args.seed, work, tracer)
            with tracer.op(f"{wl.name}.prepare"):
                wl.prepare(ctx)
            phase("prepared")
            counters = StageCounters(spark) if args.trace else None

            busy = []  # the sampler's busy seconds before each pass and at the end

            def before(k: int) -> None:
                tracer.enabled = rss.enabled = traced_pass(k)
                busy.append(rss.busy_s)

            # the traced run: a warm-up pass, then traced and untraced in turn
            min_warm, before = (MIN_WARM + 1, before) if args.trace else (MIN_WARM, None)
            passes, times, raised = measure(wl, ctx, counters, args.seconds, min_warm, before)
            timed = list(tracer.spans)
            if args.trace:
                busy.append(rss.busy_s)
            phase("measured")
            attempted, failed = verify(wl, ctx, passes, times, raised)
            if args.trace:
                tracer.enabled = rss.enabled = True
                # the layers outside the timed passes: one cold, one warm pass
                with tracer.op(f"{probe.name}.prepare"):
                    probe.prepare(ctx)
                p_passes, p_times, p_raised = measure(probe, ctx, counters, 0, 1)
                p_attempted, p_failed = verify(probe, ctx, p_passes, p_times, p_raised)
                attempted, failed = attempted + p_attempted, failed + p_failed
                layers = {}
                if not failed:
                    layers = {**wl.layers(ctx, passes), **probe.layers(ctx, p_passes)}
                    layers.update({f"probe.spark.{k}": v for k, v in p_passes[-1]["_engine"].items()})
                ops = pass_ops(timed)
                sampler_s = sum(busy[k + 1] - busy[k] for k in range(len(passes)) if traced_pass(k))
                metrics = layer_metrics(setups, passes, times, sum(1 for s in timed if s.op in ops), sampler_s, cores)
                metrics["proc.peak_rss_mb"] = (rss.peak_mb, "MB")
            phase("checked")
            print(
                f"perfbench: {args.workload} seed {args.seed}: {len(passes)} timed passes, {attempted} ops, "
                f"failed_share {failed_share(attempted, failed):.4f}",
                file=sys.stderr,
            )
        finally:
            shut_down(spark)
            phase("shut down")
    if args.trace:
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        path = os.path.join(work, "traces", f"{args.workload}-s{args.seed}.json")
        tracer.dump(path, {"workload": args.workload, "seed": args.seed, "layers": layers, "metrics": metrics})
        print(json.dumps({"layers": layers, "trace_file": os.path.relpath(path, ROOT)}))
    else:
        metrics = {
            "setup_s": (statistics.median(c for _, _, c in setups), "s"),
            "warm_cpu_s": (sum(op_medians(passes[1:], "cpu_s").values()), "s"),
            "cold_cpu_s": (sum(r["cpu_s"] for r in passes[0].values()), "s"),
        }
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0 if failed == 0 else 1


def traced_pass(k: int) -> bool:
    """Whether the traced run traces pass ``k``: the first two and then
    every odd one."""
    return k <= 1 or k % 2 == 1


def pass_ops(spans: list) -> set[int]:
    """Ids of the operations that are calls of a pass (their spans carry
    the pass number), not set-up, preparation or layer probes."""
    return {s.op for s in spans if "pass" in s.attrs}


def op_medians(passes: list[dict], key: str = "s") -> dict[str, float]:
    """Each call's median ``key`` (wall or CPU seconds) over ``passes``:
    robust to a slow pass."""
    out = {}
    for name in passes[0]:
        ts = [p[name][key] for p in passes if name in p and name != "_engine"]
        if ts:
            out[name] = statistics.median(ts)
    return out


def span_cost_s(n: int = 5000) -> float:
    """Measured cost of opening and closing one span."""
    from tracing import Tracer

    probe = Tracer(enabled=True)
    t0 = time.perf_counter()
    for _ in range(n):
        with probe.span("probe"):
            pass
    return (time.perf_counter() - t0) / n


def layer_metrics(setups, passes, times, pass_spans: int, sampler_s: float, cores) -> dict:
    """Per-layer metrics common to every workload, from the traced run's
    timed passes; ``pass_spans`` is the number of spans the traced ones
    recorded and ``sampler_s`` the memory sampler's busy time in them."""
    warm = range(1, len(passes))
    traced = [k for k in range(3, len(passes)) if traced_pass(k)]
    plain = [k for k in warm if not traced_pass(k)]
    med = statistics.median
    eng = [passes[k]["_engine"] for k in warm]
    per_op = op_medians([passes[k] for k in plain])
    out = {
        "session.start_s": (med(a for a, _, _ in setups), "s"),
        "session.warmup_s": (med(b for _, b, _ in setups), "s"),
        # untraced warm passes; the cold pass is traced
        "wall.warm_s": (sum(per_op.values()), "s"),
        "wall.cold_s": (times[0], "s"),
        "wall.op_p50_ms": (med(per_op.values()) * 1000.0, "ms"),
        # traced against untraced warm passes of this run: spans and the
        # memory sampler together
        "trace.overhead_share": (med(times[k] for k in traced) / med(times[k] for k in plain) - 1.0, "share"),
        # the same, from its parts: spans (their number times their unit
        # cost) and the sampler's busy time
        "trace.own_cost_share": (
            (pass_spans * span_cost_s() + sampler_s) / sum(t for k, t in enumerate(times) if traced_pass(k)),
            "share",
        ),
        "trace.spans": (pass_spans, "count"),
        "spark.core_util": (med(e["executor_run_s"] / (cores * times[k]) for k, e in zip(warm, eng)), "share"),
    }
    units = {
        "jobs": "count", "tasks": "count", "executor_run_s": "s", "gc_share": "share",
        "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB", "task_skew": "ratio",
    }
    for key, unit in units.items():
        out[f"spark.{key}"] = (med(e[key] for e in eng), unit)
    return out


if __name__ == "__main__":
    sys.exit(main())
