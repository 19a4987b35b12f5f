"""Structural invariants of registry queries the oracle twins hash."""

from __future__ import annotations

import __spark_entry__ as em

SF = "/root/testdata/sf0.001"


def test_json_props_stats_consistent(spark):
    rows = em.queries()["events_json_props"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.con_k <= r.eventos
        if r.con_k > 0:
            assert r.min_k <= r.max_k
            assert r.min_k * r.con_k <= r.suma_k <= r.max_k * r.con_k
