"""Session-scoped DataFrame cache for bases shared across queries, the
one owner of scratch-frame lifetime, and the one way a query reads a
table.

``table_scan`` memoizes each table's scan per (session, path) against
the table's file listing, and decides from that same listing whether
the scan is fanned out to the session's parallelism (``fan_key``). The
decision lives and dies with the memo entry.

Several registry queries rebuild the same intermediate lineage
(`_platos_base` feeds two esc_* queries). Computing it twice per
session is pure waste, so the first caller materializes the base with
``localCheckpoint(eager=True)`` — materialized AND plan-truncated (a
``persist`` would keep the whole nested plan alive for re-analysis) —
and later callers reuse it. Keyed by (applicationId, sf_dir, kind) so a
new session or a different scale factor never sees stale data.

Lifetime rule for scratch: every intermediate a build persists
(``scratch_persist``) or checkpoints (``tracked_checkpoint``) belongs to
the innermost ``scratch_scope`` open on its thread and is freed when
that scope exits, whether the body succeeds or raises. Scratch made
outside any scope goes on the loose ledger, which
``release_session_cache`` drains. ``session_cached`` builds and the
clean-corpus job's flag stage run inside a scope.

At cluster scale the same role is played by a persisted staging table
(the checkpoint is executor-local here because local mode has exactly
one "executor"); the call sites note where that swap happens.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_CACHE: dict[tuple, DataFrame] = {}

# Serializes every before/after block-id delta window: two concurrent
# delta windows would attribute each other's checkpoint RDDs, and
# releasing a checkpointed frame another thread still holds is
# unrecoverable (no lineage). Plain .persist() frames that slip into
# someone's window are merely recomputable, so the lock only needs to
# cover localCheckpoint sites.
_ATTRIBUTION_LOCK = threading.Lock()
# RDD ids materialized by each entry's eager localCheckpoint, captured at
# creation so release_session_cache can free EXACTLY the blocks this
# module owns (round-7 advice: the old blanket getPersistentRDDs sweep
# would also kill concurrently held checkpointed frames — which have no
# lineage to recompute from, so any surviving reference became unusable)
_CACHE_RDD_IDS: dict[tuple, list[int]] = {}

# _SCRATCH.scope is the (block ids, persisted frames) pair of the
# innermost scratch_scope open on this thread, None outside any scope.
# The loose ledger below holds scratch registered outside every scope.
_SCRATCH = threading.local()
_LOOSE_IDS: list[int] = []
_LOOSE_FRAMES: list[DataFrame] = []


def _persistent_ids(spark: SparkSession) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


def free_block_ids(spark: SparkSession, ids) -> int:
    """Unpersist exactly these block-RDD ids; ids already gone (freed
    early by an iterative caller, or from a stopped session) just miss
    the persistent-RDD map, so double-freeing is a no-op."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for i in ids:
        jrdd = jmap.get(i)
        if jrdd is not None:
            jrdd.unpersist(True)
            n += 1
    return n


def _free_scratch(spark: SparkSession, ids, frames) -> int:
    n = 0
    for df in frames:
        try:
            df.unpersist()
            n += 1
        except Exception:  # its session already stopped: nothing to free
            pass
    return n + free_block_ids(spark, ids)


def _register(ids=(), frames=()) -> None:
    scope = getattr(_SCRATCH, "scope", None)
    if scope is not None:
        scope[0].extend(ids)
        scope[1].extend(frames)
    else:
        with _ATTRIBUTION_LOCK:
            _LOOSE_IDS.extend(ids)
            _LOOSE_FRAMES.extend(frames)


def scratch_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` for a scratch frame, registered with the active
    scratch_scope (else the loose ledger) so it is unpersisted once the
    consuming action is done."""
    df = df.persist()
    _register(frames=[df])
    return df


def tracked_checkpoint_ids(df: DataFrame) -> tuple[DataFrame, list[int]]:
    """Eager localCheckpoint for SCRATCH frames, with the block ids both
    registered for scoped release (active scope, else the loose ledger)
    and returned so iterative callers (the component loops) can free
    superseded rounds as soon as the next round materializes."""
    out, ids = checkpoint_with_ids(df.sparkSession, df)
    _register(ids=ids)
    return out, ids


def tracked_checkpoint(df: DataFrame) -> DataFrame:
    """tracked_checkpoint_ids without the ids — the drop-in replacement
    for bare ``df.localCheckpoint(eager=True)`` on scratch frames."""
    return tracked_checkpoint_ids(df)[0]


@contextmanager
def scratch_scope(spark: SparkSession):
    """Attribute every scratch_persist and tracked_checkpoint made on this
    thread inside the ``with`` body to one scope, and free them all on
    exit (success or failure). Nests: an inner scope frees only its own."""
    outer = getattr(_SCRATCH, "scope", None)
    scope: tuple[list[int], list[DataFrame]] = ([], [])
    _SCRATCH.scope = scope
    try:
        yield
    finally:
        _SCRATCH.scope = outer
        try:
            _free_scratch(spark, *scope)
        except Exception:
            pass  # a dying session must not mask the body's error


def checkpoint_with_ids(
    spark: SparkSession, df: DataFrame
) -> tuple[DataFrame, list[int]]:
    """Eagerly localCheckpoint ``df`` and return (frame, block RDD ids
    the checkpoint materialized), with the delta window held under
    _ATTRIBUTION_LOCK so concurrent checkpoint sites (session_cached
    builds on other threads) can never claim each other's
    unrecomputable blocks."""
    with _ATTRIBUTION_LOCK:
        before = _persistent_ids(spark)
        out = df.localCheckpoint(eager=True)
        ids = sorted(_persistent_ids(spark) - before)
    return out, ids


# Memoized scan PLANS per (session, table path), validated against a
# fingerprint of the table's file listing. A spark.read.parquet() call
# costs 60-90 ms of py4j round trips + footer schema inference — paid
# for the SAME static gate table hundreds of times across a suite/gate
# run (~350 reader calls ≈ 25 s of the sf0.1 suite before this memo).
# Only the immutable unresolved DataFrame object is reused; no DATA is
# cached — every action still scans the parquet files, but through the
# file listing captured when the plan was built. The fingerprint holds
# (relative path, size, mtime_ns) of every file under the table path,
# so any rewrite, append or delete — nested partition files and
# same-second rewrites included — drops the entry and re-reads. Paths
# the local filesystem cannot list (hdfs://, s3a://) fingerprint as
# empty and are never invalidated (nor fanned out). Entries from stopped
# sessions are pruned on insert. Each entry is (fingerprint, scan, fan
# decision); the decision is None until a caller passes ``fan_key``, and
# it goes with the entry.
_SCAN_MEMO: dict[tuple, tuple[tuple, DataFrame, bool | None]] = {}

# Fan-out only pays when the single-task scan carries real work: below a
# few MB the repartition exchange costs more than it parallelizes
# (measured at sf0.1: ~+0.2 s per query for no gain). The splits<cores
# guard already disables fan-out entirely once inputs arrive in many
# splits.
FAN_MIN_BYTES = 4 << 20


def _listing_fingerprint(path: str) -> tuple:
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    out = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            full = os.path.join(root, f)
            try:
                st = os.stat(full)
            except OSError:  # deleted mid-walk: the listing moved anyway
                continue
            out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(out)


def _scan_parallelism(df: DataFrame, path: str, listing: tuple, cores: int) -> int:
    """How many tasks can actually produce rows from this scan. Spark's
    planned split count is size/maxPartitionBytes, but parquet delivers
    rows at ROW-GROUP granularity — a 600 MB single-row-group file plans
    ~5 splits yet only ONE task gets rows. When the listing holds fewer
    parquet files than cores, cap the planned count by the total
    row-group count (footers of a handful of files are cheap to read);
    with >= cores files every file carries >= 1 row group, so the scan
    is already at least cores-wide and the planned count stands."""
    planned = df.rdd.getNumPartitions()
    files = [
        os.path.join(path, rel) if rel else path
        for rel, _size, _mtime in listing
        if not rel or rel.endswith(".parquet")
    ]
    if len(files) >= cores:
        return planned
    try:
        import pyarrow.parquet as pq

        row_groups = sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
    except Exception:
        return planned
    return min(planned, row_groups)


def _fan_out(spark: SparkSession, df: DataFrame, path: str, listing: tuple) -> bool:
    """True when the scan should be fanned out: the listed bytes reach
    FAN_MIN_BYTES (nested partition files included) AND the scan can use
    fewer tasks than the session has slots (:func:`_scan_parallelism`)."""
    if sum(size for _rel, size, _mtime in listing) < FAN_MIN_BYTES:
        return False
    cores = spark.sparkContext.defaultParallelism
    return _scan_parallelism(df, path, listing, cores) < cores


def table_scan(
    spark: SparkSession, sf_dir: str, name: str, fan_key: str | None = None
) -> DataFrame:
    """Memoized ``spark.read.parquet(f"{sf_dir}/{name}.parquet")``.

    Two reads of one unchanged table return the SAME DataFrame object,
    so a self-join must ``.alias()`` both sides (``a.alias("l").join(
    b.alias("r"), F.col("l.x") == F.col("r.x"))``); an unaliased
    ``a.join(b, a.x == b.x)`` compares a column with itself.

    ``fan_key`` asks for unsplittable-input fan-out (input skew from one
    big unsplittable file is mended by repartitioning right after the
    read): the sf parquet tables are SINGLE-ROW-GROUP files, so a
    parquet scan — and every per-row tokenize/hash/regex expression
    fused into it, or into a key filter over it — otherwise runs as one
    or two tasks regardless of core count. When :func:`_fan_out` holds,
    the scan comes back hash-repartitioned on ``fan_key`` to the
    session's parallelism (a filter applied afterwards is pushed below
    the exchange); otherwise the memoized scan itself. At production
    scale inputs arrive in many splits, the gate is false, and no extra
    exchange appears in the plan."""
    path = f"{sf_dir}/{name}.parquet"
    fp = _listing_fingerprint(path)
    app = spark.sparkContext.applicationId
    key = (app, path)
    hit = _SCAN_MEMO.get(key)
    if hit is None or hit[0] != fp:
        for stale in [k for k in list(_SCAN_MEMO) if k[0] != app]:
            _SCAN_MEMO.pop(stale, None)
        hit = _SCAN_MEMO[key] = (fp, spark.read.parquet(path), None)
    _fp, df, fan = hit
    if fan_key is None:
        return df
    if fan is None:
        fan = _fan_out(spark, df, path, fp)
        _SCAN_MEMO[key] = (fp, df, fan)
    if fan:
        return df.repartition(spark.sparkContext.defaultParallelism, fan_key)
    return df


def session_cached(
    spark: SparkSession, sf_dir: str, kind: str, make
) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, kind)
    if key not in _CACHE:
        # make() runs OUTSIDE the lock (a nested session_cached build
        # must be able to take it), inside a
        # fresh scratch scope: its internal scratch persists and tracked
        # checkpoints (stage joints, component-loop rounds, candidate
        # frames) are dead weight once the entry's own checkpoint holds
        # the result, so the scope frees them on exit, success or
        # failure, rather than leaving them to linger until release.
        with scratch_scope(spark):
            df = make()
            frame, ids = checkpoint_with_ids(spark, df)
        _CACHE[key] = frame
        _CACHE_RDD_IDS[key] = ids
    return _CACHE[key]


def release_session_cache(spark: SparkSession) -> int:
    """Free the blocks recorded for THIS module's cache entries: an
    eagerly localCheckpointed frame's materialized RDD stays resident in
    the block manager until py4j finalizers + the ContextCleaner
    nondeterministically collect it. Unpersists ONLY the RDD ids
    captured when each entry was created — never frames owned by other
    callers — clears the registry, and drains the loose scratch ledger.
    Returns the number of RDDs and frames released."""
    app = spark.sparkContext.applicationId
    n = 0
    for key in list(_CACHE_RDD_IDS):
        ids = _CACHE_RDD_IDS.pop(key)
        _CACHE.pop(key, None)
        if key[0] == app:  # entries of a stopped session are just dropped
            n += free_block_ids(spark, ids)
    with _ATTRIBUTION_LOCK:
        ids, frames = list(_LOOSE_IDS), list(_LOOSE_FRAMES)
        _LOOSE_IDS.clear()
        _LOOSE_FRAMES.clear()
    return n + _free_scratch(spark, ids, frames)
