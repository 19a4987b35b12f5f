"""Scoped block release for the session cache and scratch scopes.

``release_session_cache`` must free ONLY the block RDDs recorded for the
module's own ``session_cached`` entries (plus the loose scratch ledger):
an eagerly localCheckpointed frame has no lineage to recompute from, so
a blanket ``getPersistentRDDs`` sweep would permanently break any
checkpointed frame a *concurrent* caller still holds. ``scratch_scope``
frees the persisted and checkpointed scratch made inside it on exit.
"""
from __future__ import annotations

import contextlib

import pytest

from facturas_spark.analytics import cache as C


def _blocks_alive(df) -> bool:
    """True iff re-reading the frame still works (its blocks exist)."""
    try:
        return df.count() >= 0
    except Exception:
        return False


def _alive_ids(spark) -> set[int]:
    return {
        int(i)
        for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


@pytest.fixture()
def clean_registry(spark):
    def sweep():
        # blanket: every persistent RDD in the context, checkpoints included
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(True)
        C._CACHE.clear()
        C._CACHE_RDD_IDS.clear()
        C._LOOSE_IDS.clear()
        C._LOOSE_FRAMES.clear()

    sweep()
    yield
    sweep()


def test_release_frees_own_entries(spark, clean_registry):
    df = C.session_cached(
        spark, "/tmp/x", "t1", lambda: spark.range(100).toDF("n")
    )
    assert df.count() == 100
    key = (spark.sparkContext.applicationId, "/tmp/x", "t1")
    ids = list(C._CACHE_RDD_IDS[key])
    assert ids, "eager checkpoint must register at least one block RDD"
    n = C.release_session_cache(spark)
    assert n >= 1
    alive = _alive_ids(spark)
    assert not (set(ids) & alive), "own checkpoint blocks must be gone"
    assert not C._CACHE and not C._CACHE_RDD_IDS


def test_release_spares_foreign_checkpointed_frame(spark, clean_registry):
    # a frame checkpointed by some OTHER caller, concurrently held
    foreign = spark.range(50).toDF("n").localCheckpoint(eager=True)
    assert foreign.count() == 50
    C.session_cached(spark, "/tmp/x", "t2", lambda: spark.range(10).toDF("n"))
    C.release_session_cache(spark)
    # the foreign frame must still be usable — the old blanket sweep
    # would have unpersisted its only copy
    assert _blocks_alive(foreign) and foreign.count() == 50


def test_concurrent_checkpoint_attribution_disjoint(spark, clean_registry):
    """Many threads checkpointing through checkpoint_with_ids at once
    (release barrier maximizes window overlap): every thread's id list
    must cover its own frame and be disjoint from every other's — the
    unlocked before/after delta would let overlapping windows claim each
    other's unrecomputable blocks. Releasing one thread's ids must leave
    all other frames readable."""
    import threading

    from facturas_spark.analytics.cache import checkpoint_with_ids

    n_threads = 6
    barrier = threading.Barrier(n_threads)
    results: dict[int, tuple] = {}
    errors: list[Exception] = []

    def work(i: int) -> None:
        try:
            df = spark.range(i * 1000, i * 1000 + 500).toDF("n")
            barrier.wait(timeout=60)
            results[i] = checkpoint_with_ids(spark, df)
        except Exception as e:  # pragma: no cover - surfaced by assert
            errors.append(e)

    ts = [threading.Thread(target=work, args=(i,)) for i in range(n_threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=120)
    assert not errors and len(results) == n_threads
    all_ids = [set(ids) for _, ids in results.values()]
    for i in range(n_threads):
        assert all_ids[i], "every checkpoint must register blocks"
        for j in range(i + 1, n_threads):
            assert not (all_ids[i] & all_ids[j]), (i, j)
    # freeing thread 0's blocks leaves every other frame readable
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in results[0][1]:
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(True)
    for i in range(1, n_threads):
        assert results[i][0].count() == 500


def test_build_scratch_freed_entry_survives(spark, clean_registry):
    """make()-internal tracked checkpoints (component rounds, candidate
    frames) are scratch: they must be GONE the moment the entry
    materializes, while the entry itself stays readable and the scratch
    ids never contaminate the entry's release list."""
    scratch_ids: list[int] = []

    def make():
        inner, ids = C.tracked_checkpoint_ids(spark.range(500).toDF("n"))
        scratch_ids.extend(ids)
        return inner.selectExpr("sum(n) as s")

    df = C.session_cached(spark, "/tmp/x", "scratch1", make)
    assert df.collect()[0]["s"] == 499 * 500 // 2
    alive = _alive_ids(spark)
    assert scratch_ids and not (set(scratch_ids) & alive), (
        "build scratch must be freed at entry materialization"
    )
    key = (spark.sparkContext.applicationId, "/tmp/x", "scratch1")
    assert not (set(scratch_ids) & set(C._CACHE_RDD_IDS[key]))
    assert df.collect()[0]["s"] == 499 * 500 // 2  # entry still readable
    assert not C._LOOSE_IDS, "scoped scratch must not hit the loose ledger"


def test_loose_ledger_drained_by_release(spark, clean_registry):
    """A tracked checkpoint OUTSIDE any build scope (top-level query
    path) registers on the loose ledger; release_session_cache frees it.
    In-loop early freeing of the same ids must be a harmless no-op."""
    df, ids = C.tracked_checkpoint_ids(spark.range(100).toDF("n"))
    assert df.count() == 100 and ids
    assert set(ids) <= set(C._LOOSE_IDS)
    # early free (what the component loops do per round), then release
    C.free_block_ids(spark, ids)
    n = C.release_session_cache(spark)  # double-free: must not raise
    assert n >= 0 and not C._LOOSE_IDS
    alive = _alive_ids(spark)
    assert not (set(ids) & alive)


def test_component_loop_footprint_bounded(spark, clean_registry):
    """A long path graph forces the min-label loop through O(diameter)
    rounds; superseded rounds must be freed as the loop runs, so the
    block population at return is O(1) frames, not O(rounds)."""
    from facturas_spark.analytics.dedup import _min_label_components

    before = _alive_ids(spark)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id1 long, id2 long"
    )
    labels = _min_label_components(pairs)
    assert labels.filter("cluster_id = 0").count() == 13  # one component
    after = _alive_ids(spark)
    # alive: the pairs checkpoint + the FINAL labels round only (und and
    # every superseded round freed in-loop; diameter 12 ⇒ ≥3 rounds)
    assert len(after - before) <= 3, sorted(after - before)
    C.release_session_cache(spark)  # loose ledger: everything attributable
    end = _alive_ids(spark)
    assert not (end - before), "release must drain all loop blocks"


def _scratch(spark, n: int):
    """One persisted (materialized) and one checkpointed scratch frame,
    registered with whatever scope is active."""
    persisted = C.scratch_persist(spark.range(n).toDF("n"))
    assert persisted.count() == n
    _, ids = C.tracked_checkpoint_ids(spark.range(n).toDF("n"))
    assert ids
    return persisted, ids


@pytest.mark.parametrize("raises", [False, True])
def test_scope_frees_persisted_and_checkpointed(spark, clean_registry, raises):
    """On exit, success or failure, a scope unpersists its scratch_persist
    frames and frees its tracked_checkpoint blocks; nothing reaches the
    loose ledger."""
    before = _alive_ids(spark)
    made = []
    with pytest.raises(RuntimeError) if raises else contextlib.nullcontext():
        with C.scratch_scope(spark):
            made.append(_scratch(spark, 300))
            assert _alive_ids(spark) - before
            if raises:
                raise RuntimeError("stage failed")
    ((persisted, ids),) = made
    assert not persisted.is_cached and not persisted.storageLevel.useMemory
    assert _alive_ids(spark) == before
    assert not C._LOOSE_IDS and not C._LOOSE_FRAMES


def test_nested_scope_frees_only_its_own(spark, clean_registry):
    before = _alive_ids(spark)
    with C.scratch_scope(spark):
        outer, outer_ids = _scratch(spark, 200)
        with C.scratch_scope(spark):
            inner, inner_ids = _scratch(spark, 100)
        alive = _alive_ids(spark)
        assert not (set(inner_ids) & alive) and not inner.is_cached
        assert set(outer_ids) <= alive and outer.is_cached
        assert outer.count() == 200
    assert _alive_ids(spark) == before and not outer.is_cached


def test_loose_frames_drained_by_release(spark, clean_registry):
    """scratch_persist outside any scope registers on the loose ledger;
    release_session_cache unpersists it."""
    before = _alive_ids(spark)
    persisted = C.scratch_persist(spark.range(100).toDF("n"))
    assert persisted.count() == 100
    assert len(C._LOOSE_FRAMES) == 1 and C._LOOSE_FRAMES[0] is persisted
    assert _alive_ids(spark) - before
    assert C.release_session_cache(spark) >= 1
    assert not C._LOOSE_FRAMES and not persisted.is_cached
    assert _alive_ids(spark) == before


def test_dedup_incremental_scratch_freed_by_release(spark, clean_registry):
    """dedup_incremental's shingle tables and candidate frame are scratch
    on the loose ledger: they stay cached across calls until
    release_session_cache, which leaves no persistent RDD behind."""
    from facturas_spark.analytics.dedup import dedup_incremental
    from tests.test_plans import SF

    # drop cache entries an earlier call left, so this call persists afresh
    spark.catalog.clearCache()
    before = _alive_ids(spark)
    assert dedup_incremental(spark, SF).collect()
    assert _alive_ids(spark) - before, "the call persists its scratch"
    C.release_session_cache(spark)
    assert not (_alive_ids(spark) - before)
