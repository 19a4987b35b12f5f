"""Round-8 optimization internals: the claims the rewrites rest on.

1. The UNROLLED 64-dim dot/norm fast path is BIT-IDENTICAL to the
   higher-order-function fold it replaced (same left-to-right addition
   order from 0.0, same per-element double casts) — exact equality, no
   tolerance, including the short-vector fallback branch.
2. The scan fan-out gate (`cache.table_scan(..., fan_key=K)`) is
   adaptive in both directions: tiny tables are never repartitioned (the
   sf0.1 regression class), fan-worthy tables repartition to session
   parallelism, and the decision is memoized in the table's scan-memo
   entry, so a rewrite or a stopped session drops it with the scan.
"""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from facturas_spark.analytics import cache as C
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


@pytest.fixture
def fresh_scan_memo():
    """The fan decision lives in the scan memo: drop it before and after a
    test that moves FAN_MIN_BYTES, so no later test sees its decisions."""
    C._SCAN_MEMO.clear()
    yield
    C._SCAN_MEMO.clear()


def _fan(spark, sf_dir, name, key):
    """The fan decision a ``fan_key`` read of ``name`` leaves in the memo."""
    C.table_scan(spark, sf_dir, name, fan_key=key)
    app = spark.sparkContext.applicationId
    return C._SCAN_MEMO[(app, f"{sf_dir}/{name}.parquet")][2]


@pytest.mark.usefixtures("fresh_scan_memo")
def test_fan_gate_never_fans_tiny_tables(spark):
    # sf0.001 documents is a few hundred KB — far under FAN_MIN_BYTES
    df = C.table_scan(spark, SF, "documents", fan_key="doc_id")
    plain = C.table_scan(spark, SF, "documents")
    assert df is plain  # no repartition node: the memoized scan itself
    assert _fan(spark, SF, "documents", "doc_id") is False


@pytest.mark.usefixtures("fresh_scan_memo")
def test_fan_gate_fans_when_size_floor_cleared(spark, monkeypatch):
    monkeypatch.setattr(C, "FAN_MIN_BYTES", 0)
    df = C.table_scan(spark, SF, "documents", fan_key="doc_id")
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # memoized with the scan: the entry holds the decision
    assert _fan(spark, SF, "documents", "doc_id") is True


@pytest.mark.usefixtures("fresh_scan_memo")
def test_fan_gate_counts_nested_partition_bytes(spark, tmp_path, monkeypatch):
    """Hive-partitioned datasets nest files under partition dirs — the
    size gate must count them, not the ~4KB dir inodes."""
    import os

    p = str(tmp_path)
    top = f"{p}/t.parquet"
    rows = [(i, i % 2) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, k int").coalesce(1)
    df.write.partitionBy("k").parquet(top)
    assert all(not f.endswith(".parquet") for f in os.listdir(top))
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(top)
        for f in files
    )
    monkeypatch.setattr(C, "FAN_MIN_BYTES", total)
    assert _fan(spark, p, "t", "doc_id") is True
    C._SCAN_MEMO.clear()
    monkeypatch.setattr(C, "FAN_MIN_BYTES", total + 1)
    assert _fan(spark, p, "t", "doc_id") is False


def test_effective_parallelism_caps_by_row_groups(spark):
    """A single-row-group file can plan multiple splits but only one
    task gets rows — the gate must see effective parallelism 1."""
    path = f"{SF}/documents.parquet"
    listing = C._listing_fingerprint(path)
    df = C.table_scan(spark, SF, "documents")
    cores = spark.sparkContext.defaultParallelism
    eff = C._scan_parallelism(df, path, listing, cores)
    assert eff == 1  # sf0.001 documents: one file, one row group


@pytest.mark.usefixtures("fresh_scan_memo")
def test_fan_decision_follows_table_rewrite(spark, tmp_path, monkeypatch):
    """The decision is taken from the listing the memo entry holds: a
    rewrite that carries the table across the floor in the same session
    changes it (a per-session decision memo would keep the stale one)."""
    p = str(tmp_path)
    small = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    small.coalesce(1).write.parquet(f"{p}/t.parquet")
    small_bytes = sum(s for _r, s, _m in C._listing_fingerprint(f"{p}/t.parquet"))
    monkeypatch.setattr(C, "FAN_MIN_BYTES", small_bytes + 2000)
    assert _fan(spark, p, "t", "doc_id") is False

    big = spark.createDataFrame(
        [(i, hashlib.md5(str(i).encode()).hexdigest()) for i in range(500)],
        "doc_id long, text string",
    )
    big.coalesce(1).write.mode("overwrite").parquet(f"{p}/t.parquet")
    listing = C._listing_fingerprint(f"{p}/t.parquet")
    assert sum(s for _r, s, _m in listing) >= C.FAN_MIN_BYTES
    assert _fan(spark, p, "t", "doc_id") is True
    df = C.table_scan(spark, p, "t", fan_key="doc_id")
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert df.count() == 500


@pytest.mark.usefixtures("fresh_scan_memo")
def test_fan_is_result_invariant(spark, monkeypatch):
    """Forcing the fan on must not change any query's rows — only the
    physical partitioning. Checked on dedup_url_normalize, whose
    min-over-window keep flag runs on the fanned documents scan."""
    base = [tuple(r) for r in D.dedup_url_normalize(spark, SF).collect()]
    monkeypatch.setattr(C, "FAN_MIN_BYTES", 0)
    C._SCAN_MEMO.clear()
    fanned = [tuple(r) for r in D.dedup_url_normalize(spark, SF).collect()]
    assert base == fanned


@pytest.mark.usefixtures("fresh_scan_memo")
def test_f4_f6_forces_its_fan(spark):
    """f4_f6_amount_banks fans its bank rows out whatever the scan fan
    gate says, and still returns its rows."""
    from facturas_spark.analytics.queries import f4_f6_amount_banks

    # sf0.001 orders is under the floor: the gate says no
    assert _fan(spark, SF, "orders", "o_orderkey") is False
    df = f4_f6_amount_banks(spark, SF)
    # the bank rows pass through a hash repartition before the battery
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression" in plan, plan
    assert len(df.collect()) > 0


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
    cache._SCAN_MEMO[foreign] = ((), None, None)
    try:
        cache.table_scan(spark, p, "t")
        assert foreign not in cache._SCAN_MEMO
        assert (spark.sparkContext.applicationId, f"{p}/t.parquet") in cache._SCAN_MEMO
    finally:
        cache._SCAN_MEMO.pop(foreign, None)


def test_stopped_session_fan_decision_is_pruned(spark, tmp_path):
    """A stopped session's fan decision goes with its scan entry: the
    next insert drops it, so no decision outlives its session."""
    p = str(tmp_path)
    spark.createDataFrame([(1,)], "x long").write.parquet(f"{p}/t.parquet")
    foreign = ("local-stopped-app", f"{SF}/documents.parquet")
    C._SCAN_MEMO[foreign] = ((), None, True)
    try:
        assert C.table_scan(spark, p, "t", fan_key="x") is C.table_scan(spark, p, "t")
        assert foreign not in C._SCAN_MEMO
        own = C._SCAN_MEMO[(spark.sparkContext.applicationId, f"{p}/t.parquet")]
        assert own[2] is False
    finally:
        C._SCAN_MEMO.pop(foreign, None)
