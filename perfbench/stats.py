"""The benchmark's statistics, kept apart so they can be tested alone.

- :func:`tail_percentile`: the highest percentile of a fixed ladder that
  has at least ten samples beyond it.
- :func:`failed_share`: failed or wrong operations over attempted ones.
- :func:`spread`: interquartile distance as a share of the median.
- :func:`compare`: the parent-vs-change rule for claiming a gain.
"""

from __future__ import annotations

import math
import statistics

LADDER = (50.0, 90.0, 99.0, 99.9)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    # rounding first keeps e.g. 99.9% of 10000 at rank 9990, not 9991
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least p% of
    the samples at or below it)."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(p, len(values)) - 1]


def tail_percentile(values: list[float], min_beyond: int = MIN_BEYOND) -> tuple[float, float]:
    """(p, value) for the highest ladder percentile with at least
    ``min_beyond`` samples strictly above its rank; the median when even
    p50 has fewer (too few samples for any tail)."""
    best = LADDER[0]
    n = len(values)
    for p in LADDER:
        if n - _rank(p, n) >= min_beyond:
            best = p
    return best, percentile(values, best)


def failed_share(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return failed / attempted


def spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def compare(parent: list[float], change: list[float], better: str = "lower") -> dict:
    """The rule for claiming a gain from paired runs: the change wins at
    least nine tenths of the pairs (ties count for neither side) and the
    medians differ, in the change's favour, by more than the parent's own
    interquartile distance."""
    if len(parent) != len(change) or len(parent) < 2:
        raise ValueError("need two equal-length lists of at least 2 runs")
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(1 for a, b in zip(parent, change) if sign * (a - b) > 0)
    q1, _, q3 = statistics.quantiles(parent, n=4)
    gap = sign * (statistics.median(parent) - statistics.median(change))
    return {
        "wins": wins,
        "pairs": len(parent),
        "gap": gap,
        "parent_iqr": q3 - q1,
        "gain": wins >= 0.9 * len(parent) and gap > q3 - q1,
    }


def _load(path: str) -> dict[str, list[float]]:
    """metric -> values from a file of result lines (one run per line)."""
    import json

    out: dict[str, list[float]] = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                for name, m in json.loads(line)["metrics"].items():
                    out.setdefault(name, []).append(m["value"])
    return out


def main(argv: list[str]) -> int:
    """``stats.py RUNS`` prints each metric's median and spread;
    ``stats.py PARENT CHANGE`` applies :func:`compare` to runs paired in
    file order, with each metric's direction from BENCHMARK.json."""
    import json
    import os

    if len(argv) not in (1, 2):
        print(main.__doc__)
        return 2
    runs = [_load(p) for p in argv]
    bench = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
    with open(bench) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, values in runs[0].items():
        row = f"{name:24s} median {statistics.median(values):12.4f}"
        if len(values) >= 2:
            row += f"  spread {spread(values):.4f}"
        if len(runs) == 2 and name in runs[1]:
            res = compare(values, runs[1][name], better.get(name, "lower"))
            row += f"  change median {statistics.median(runs[1][name]):12.4f}"
            row += f"  wins {res['wins']}/{res['pairs']}  gain {res['gain']}"
        print(row)
    return 0


if __name__ == "__main__":
    import sys

    sys.exit(main(sys.argv[1:]))
