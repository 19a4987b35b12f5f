"""Self-tests for the benchmark's own statistics and tracing.

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import op_medians, pass_ops, traced_pass  # noqa: E402
from stats import compare, failed_share, percentile, spread, tail_percentile  # noqa: E402
from tracing import Tracer  # noqa: E402


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    "n, expect",
    [(5, 50.0), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expect):
    p, value = tail_percentile([float(i) for i in range(n)])
    assert p == expect
    assert value == percentile([float(i) for i in range(n)], expect)
    if n >= 20:
        beyond = sum(1 for i in range(n) if i > value)
        assert beyond >= 10


def test_failed_share_counts_against_attempted():
    assert failed_share(10, 0) == 0.0
    assert failed_share(8, 2) == 0.25
    with pytest.raises(ValueError):
        failed_share(0, 0)
    with pytest.raises(ValueError):
        failed_share(3, 4)


def test_spread_is_iqr_over_median():
    assert spread([10.0] * 10) == 0.0
    xs = [9.0, 9.5, 10.0, 10.0, 10.0, 10.0, 10.5, 11.0]
    assert spread(xs) == pytest.approx((10.375 - 9.625) / 10.0)


def test_compare_claims_a_clear_gain():
    parent = [10.0, 10.2, 9.9, 10.1, 10.3, 9.8, 10.0, 10.1, 9.9, 10.2]
    change = [x * 0.8 for x in parent]
    res = compare(parent, change)
    assert res["wins"] == 10 and res["gain"]


def test_compare_needs_nine_tenths_of_pairs():
    parent = [10.0] * 10
    change = [8.0] * 8 + [12.0] * 2
    res = compare(parent, change)
    assert res["wins"] == 8 and not res["gain"]


def test_compare_ties_count_for_neither_side():
    parent = [10.0] * 10
    change = [8.0] * 9 + [10.0]
    res = compare(parent, change)
    assert res["wins"] == 9 and res["gain"]


def test_compare_gap_must_exceed_parent_spread():
    parent = [8.0, 12.0, 9.0, 11.0, 10.0, 8.5, 11.5, 9.5, 10.5, 10.0]
    change = [x - 0.5 for x in parent]  # wins every pair, gap 0.5 < IQR
    res = compare(parent, change)
    assert res["wins"] == 10 and not res["gain"]


def test_compare_higher_is_better():
    parent = [100.0 + i for i in range(10)]
    change = [x * 1.5 for x in parent]
    assert compare(parent, change, better="higher")["gain"]
    assert not compare(parent, change, better="lower")["gain"]


def test_tracer_self_time_and_operation_ids():
    tr = Tracer(enabled=True)
    with tr.op("outer"):
        with tr.span("child"):
            pass
        with tr.span("child"):
            pass
    with tr.op("second"):
        pass
    by_name = {}
    for s in tr.spans:
        by_name.setdefault(s.name, []).append(s)
    outer = by_name["outer"][0]
    assert {s.parent for s in by_name["child"]} == {outer.id}
    assert {s.op for s in by_name["child"]} == {outer.op}
    assert by_name["second"][0].op != outer.op
    own = tr.self_times()
    children = sum(s.end - s.start for s in by_name["child"])
    assert own[outer.id] == pytest.approx((outer.end - outer.start) - children)
    assert tr.summary()["child"]["count"] == 2


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.op("x"):
        with tr.span("y"):
            pass
    assert tr.spans == []


def test_op_medians_skip_one_slow_pass():
    def p(fresh, resume):
        return {"fresh": {"s": fresh}, "resume": {"s": resume}, "_engine": {"jobs": 3}}

    passes = [p(4.0, 2.0), p(7.0, 2.2), p(4.2, 2.1)]
    assert op_medians(passes) == {"fresh": 4.2, "resume": 2.1}
    assert op_medians(passes[:2]) == {"fresh": 5.5, "resume": 2.1}


def test_traced_run_alternates_warm_passes():
    assert [traced_pass(k) for k in range(7)] == [True, True, False, True, False, True, False]


def test_pass_ops_leave_out_setup_and_probe_spans():
    tr = Tracer(enabled=True)
    with tr.op("session.setup"):
        pass
    with tr.op("fresh", **{"pass": 0}):
        with tr.span("inner"):
            pass
    with tr.op("ingest.prepare"):
        with tr.span("inner"):
            pass
    ops = pass_ops(tr.spans)
    assert [s.name for s in tr.spans if s.op in ops] == ["inner", "fresh"]
