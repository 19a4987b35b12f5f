"""Round-8 optimization internals: the claims the rewrites rest on.

1. The UNROLLED 64-dim dot/norm fast path is BIT-IDENTICAL to the
   higher-order-function fold it replaced (same left-to-right addition
   order from 0.0, same per-element double casts) — exact equality, no
   tolerance, including the short-vector fallback branch.
2. The scan fan-out gate (`_fan_needed` / `_t_fan`) is adaptive in both
   directions: tiny tables are never repartitioned (the sf0.1 regression
   class), fan-worthy tables repartition to session parallelism, and the
   decision is memoized per (session, sf, table).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from facturas_spark.analytics import dedup as D

SF = "/root/testdata/sf0.001"


def _fold_cosine_reference(a: str, b: str):
    """The pre-round-8 HOF form, kept verbatim as the equality baseline."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            c, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    return dot / (norm(F.col(a)) * norm(F.col(b)))


def test_unrolled_cosine_bitwise_equals_fold(spark):
    rng = random.Random(8)
    rows = []
    for i in range(200):
        dim = D.EMB_FAST_DIM if i % 3 else rng.choice([3, 17, 63, 65])
        rows.append(
            (
                [rng.uniform(-2, 2) for _ in range(dim)],
                [rng.uniform(-2, 2) for _ in range(dim)],
            )
        )
    df = spark.createDataFrame(rows, "e1 array<float>, e2 array<float>")
    # the cosine _emb_candidates_with_cosine computes, norms carried
    fast = D._dot("e1", "e2") / (F.sqrt(D._norm2("e1")) * F.sqrt(D._norm2("e2")))
    got = df.select(
        fast.alias("fast"),
        _fold_cosine_reference("e1", "e2").alias("fold"),
    ).collect()
    assert len(got) == 200
    for r in got:
        # exact — the unrolled expression must reproduce the fold's
        # doubles bit-for-bit, not approximately
        assert r["fast"] == r["fold"], (r["fast"], r["fold"])


def test_unrolled_dot_norm_match_fold_on_exact_width(spark):
    rng = random.Random(42)
    rows = [
        ([rng.uniform(-1, 1) for _ in range(D.EMB_FAST_DIM)],)
        for _ in range(50)
    ]
    df = spark.createDataFrame(rows, "embedding array<float>")
    got = df.select(
        D._norm2("embedding").alias("fast"),
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        ).alias("fold"),
    ).collect()
    for r in got:
        assert r["fast"] == r["fold"]


def test_fan_gate_never_fans_tiny_tables(spark):
    D._FAN_MEMO.clear()
    # sf0.001 documents is a few hundred KB — far under FAN_MIN_BYTES
    assert not D._fan_needed(spark, SF, "documents")
    df = D._t_fan(spark, SF, "documents", "doc_id")
    plain = D._t(spark, SF, "documents")
    # no repartition node: same partitioning as the raw scan
    assert df.rdd.getNumPartitions() == plain.rdd.getNumPartitions()


def test_fan_gate_fans_when_size_floor_cleared(spark, monkeypatch):
    monkeypatch.setattr(D, "FAN_MIN_BYTES", 0)
    D._FAN_MEMO.clear()
    try:
        assert D._fan_needed(spark, SF, "documents")
        df = D._t_fan(spark, SF, "documents", "doc_id")
        assert (
            df.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )
        # memoized: second call answers from the cache (poke the memo)
        key = (spark.sparkContext.applicationId, SF, "documents")
        assert D._FAN_MEMO[key] is True
    finally:
        D._FAN_MEMO.clear()


def test_table_bytes_recurses_partition_dirs(tmp_path):
    """Hive-partitioned datasets nest files under partition dirs — the
    size gate must count them, not the ~4KB dir inodes."""
    root = tmp_path / "t.parquet" / "lang=es"
    root.mkdir(parents=True)
    (root / "part-0.parquet").write_bytes(b"x" * 10_000)
    (tmp_path / "t.parquet" / "part-1.parquet").write_bytes(b"y" * 5_000)
    assert D._table_bytes(str(tmp_path), "t") == 15_000


def test_effective_parallelism_caps_by_row_groups(spark):
    """A single-row-group file can plan multiple splits but only one
    task gets rows — the gate must see effective parallelism 1."""
    eff = D._scan_effective_parallelism(spark, SF, "documents")
    assert eff == 1  # sf0.001 documents: one file, one row group


def test_fan_is_result_invariant(spark, monkeypatch):
    """Forcing the fan on must not change any query's rows — only the
    physical partitioning. Checked on dedup_url_normalize, whose
    min-over-window keep flag runs on the fanned documents scan."""
    base = [tuple(r) for r in D.dedup_url_normalize(spark, SF).collect()]
    monkeypatch.setattr(D, "FAN_MIN_BYTES", 0)
    D._FAN_MEMO.clear()
    try:
        fanned = [tuple(r) for r in D.dedup_url_normalize(spark, SF).collect()]
    finally:
        D._FAN_MEMO.clear()
    assert base == fanned


def test_fan_post_force_is_result_invariant(spark):
    """f4_f6_amount_banks fans its bank rows out whatever the scan fan
    gate says, and still returns its rows."""
    from facturas_spark.analytics.queries import f4_f6_amount_banks

    key = (spark.sparkContext.applicationId, SF, "orders")
    D._FAN_MEMO[key] = False
    try:
        df = f4_f6_amount_banks(spark, SF)
        # the fan ignores the (False-seeded) gate: the bank rows pass
        # through a hash repartition before the battery
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "RepartitionByExpression" in plan, plan
        assert len(df.collect()) > 0
    finally:
        D._FAN_MEMO.pop(key, None)


def test_table_scan_memo_and_mtime_invalidation(spark, tmp_path):
    """cache.table_scan must return the SAME plan object for an unchanged
    file (the 60-90 ms reader memo) and a FRESH read after the file is
    rewritten — a stale listing would silently serve old data."""
    import os
    import time as _time

    from facturas_spark.analytics.cache import table_scan

    p = str(tmp_path)
    spark.createDataFrame([(1,)], "x long").coalesce(1).write.parquet(
        f"{p}/t.parquet"
    )
    a = table_scan(spark, p, "t")
    b = table_scan(spark, p, "t")
    assert a is b
    assert [r["x"] for r in a.collect()] == [1]
    _time.sleep(0.01)
    spark.createDataFrame([(2,), (3,)], "x long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{p}/t.parquet")
    os.utime(f"{p}/t.parquet")  # directory mtime moves on rewrite; be explicit
    c = table_scan(spark, p, "t")
    assert c is not a
    assert sorted(r["x"] for r in c.collect()) == [2, 3]


def test_table_scan_memo_sees_nested_part_file_rewrite(spark, tmp_path):
    """A part file rewritten in place inside a partition dir changes no
    directory entry, so the top-level table dir's mtime stays put; the
    memo must still drop the stale plan (its captured file listing points
    at the old bytes) and re-read."""
    import os
    import shutil

    from facturas_spark.analytics.cache import table_scan

    p = str(tmp_path)
    top = f"{p}/t.parquet"
    spark.createDataFrame([(1, 1)], "x long, k int").coalesce(1).write.partitionBy(
        "k"
    ).parquet(top)
    a = table_scan(spark, p, "t")
    assert [r["x"] for r in a.collect()] == [1]

    new = f"{p}/new"
    spark.createDataFrame([(2,), (3,), (4,)], "x long").coalesce(1).write.parquet(new)
    part_dir = f"{top}/k=1"

    def _part(d):
        (name,) = [f for f in os.listdir(d) if f.startswith("part-")]
        return name

    old_part, new_part = _part(part_dir), _part(new)
    top_mtime = os.stat(top).st_mtime_ns
    shutil.copyfile(f"{new}/{new_part}", f"{part_dir}/{old_part}")
    shutil.copyfile(f"{new}/.{new_part}.crc", f"{part_dir}/.{old_part}.crc")
    assert os.stat(top).st_mtime_ns == top_mtime  # invisible to a top-dir key

    c = table_scan(spark, p, "t")
    assert c is not a
    assert sorted(r["x"] for r in c.collect()) == [2, 3, 4]


def test_table_scan_memo_prunes_stopped_sessions(spark, tmp_path):
    """Inserting a scan drops memo entries of other applicationIds: a
    stopped session's py4j-backed plans must not pile up forever."""
    from facturas_spark.analytics import cache

    p = str(tmp_path)
    spark.createDataFrame([(1,)], "x long").write.parquet(f"{p}/t.parquet")
    foreign = ("local-stopped-app", f"{p}/t.parquet")
    cache._SCAN_MEMO[foreign] = ((), None)
    try:
        cache.table_scan(spark, p, "t")
        assert foreign not in cache._SCAN_MEMO
        assert (spark.sparkContext.applicationId, f"{p}/t.parquet") in cache._SCAN_MEMO
    finally:
        cache._SCAN_MEMO.pop(foreign, None)
