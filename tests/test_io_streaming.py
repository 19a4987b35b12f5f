"""Sources/sinks + resume + streaming tests (SURVEY §2.1 S2/S5/S6, §7)."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from facturas_spark.sources.io import (
    LineageManifest,
    mime_from_url,
    run_with_resume,
    write_bucketed,
)
from facturas_spark.synth import PAGES_SCHEMA_DDL, corpus_rows


def test_mime_from_url(spark):
    cases = [
        ("https://x.es/a/factura.pdf", "application/pdf"),
        ("https://x.es/a/foto.JPG", "image/jpeg"),
        ("https://x.es/a/scan.jpeg", "image/jpeg"),
        ("https://x.es/a/img.png", "image/png"),
        ("https://x.es/a/whatsapp_12345", "image/jpeg"),
        ("https://x.es/a/unknown.bin", "application/pdf"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = {r.url: r.mime for r in df.select("url", mime_from_url(F.col("url")).alias("mime")).collect()}
    for u, exp in cases:
        assert got[u] == exp, u


def test_write_bucketed_layout(spark, tmp_path):
    df = spark.createDataFrame(corpus_rows(50, seed=42), PAGES_SCHEMA_DDL)
    path = str(tmp_path / "pages_out")
    written = write_bucketed(
        df.select("url", "lang", F.col("text").alias("extracted_text")),
        path,
        n_buckets=4,
    )
    dirs = {d for d in os.listdir(path) if d.startswith("bucket=")}
    assert len(dirs) >= 3  # urls spread across buckets despite host skew
    assert {f"bucket={b}" for b in written} == dirs
    back = spark.read.parquet(path)
    assert back.count() == 50
    counts = {r.bucket: r["count"] for r in back.groupBy("bucket").count().collect()}
    assert {b: rows for b, (rows, _) in written.items()} == counts


def test_lineage_manifest_roundtrip(tmp_path):
    m = LineageManifest(str(tmp_path / "_manifest"))
    assert m.committed() == {}
    m.commit(3, 120, "abc")
    m.commit(5, 80, "def")
    got = m.committed()
    assert set(got) == {3, 5}
    assert got[3]["rows"] == 120
    # overwrite commit is idempotent
    m.commit(3, 120, "abc")
    assert len(m.committed()) == 2


def test_run_with_resume_skips_committed(spark, tmp_path):
    df = spark.createDataFrame(corpus_rows(60, seed=42), PAGES_SCHEMA_DDL)
    out = str(tmp_path / "job")

    r1 = run_with_resume(spark, df, out, n_buckets=4)
    assert r1["skipped"] == []
    assert sorted(r1["processed"]) == sorted(
        set(r1["processed"])
    )  # unique buckets
    assert r1["rows"] == 60

    # second run: everything committed -> nothing reprocessed
    r2 = run_with_resume(spark, df, out, n_buckets=4)
    assert r2["processed"] == []
    assert sorted(r2["skipped"]) == sorted(r1["processed"])
    assert r2["rows"] == 0

    # data intact and complete after the no-op rerun
    back = spark.read.parquet(os.path.join(out, "extracted"))
    assert back.count() == 60
    assert back.filter(F.col("proveedor_cif").isNotNull()).count() == 60


def test_run_with_resume_partial(spark, tmp_path):
    """Simulate a crash after some buckets committed: pre-commit two buckets
    manually, run, and check only the rest get processed."""
    df = spark.createDataFrame(corpus_rows(40, seed=42), PAGES_SCHEMA_DDL)
    out = str(tmp_path / "job2")
    m = LineageManifest(os.path.join(out, "_manifest"))
    m.commit(0, 0, "pre")
    m.commit(2, 0, "pre")
    r = run_with_resume(spark, df, out, n_buckets=4)
    assert set(r["skipped"]) == {0, 2}
    assert set(r["processed"]) <= {1, 3}
    back = spark.read.parquet(os.path.join(out, "extracted"))
    assert set(
        ro.bucket for ro in back.select("bucket").distinct().collect()
    ) <= {1, 3}


def _manifest(out: str) -> dict[int, tuple[int, str]]:
    entries = LineageManifest(os.path.join(out, "_manifest")).committed()
    return {b: (e["rows"], e["digest"]) for b, e in entries.items()}


def _extracted(spark, out: str) -> set:
    back = spark.read.parquet(os.path.join(out, "extracted"))
    cols = back.select("bucket", "url", F.md5("extracted_text").alias("h"))
    return {tuple(r) for r in cols.collect()}


def _crash_after_commits(spark, df, out: str, k: int, monkeypatch) -> list:
    """Run run_with_resume with a manifest commit that raises after k
    commits (every bucket is already written by then); returns the
    buckets that did commit."""
    real_commit = LineageManifest.commit
    committed = []

    def flaky_commit(self, bucket, rows, digest):
        if len(committed) == k:
            raise OSError("injected commit failure")
        real_commit(self, bucket, rows, digest)
        committed.append(bucket)

    monkeypatch.setattr(LineageManifest, "commit", flaky_commit)
    with pytest.raises(OSError, match="injected"):
        run_with_resume(spark, df, out, n_buckets=4)
    monkeypatch.setattr(LineageManifest, "commit", real_commit)
    assert set(_manifest(out)) == set(committed) and len(committed) == k
    return committed


def _bucket_bytes(out: str, bucket: int) -> dict[str, bytes]:
    """Every file under one bucket's partition directory, by name."""
    part = os.path.join(out, "extracted", f"bucket={bucket}")
    files = {}
    for name in sorted(os.listdir(part)):
        with open(os.path.join(part, name), "rb") as fh:
            files[name] = fh.read()
    return files


@pytest.mark.parametrize("k", [0, 2])
def test_run_with_resume_commit_failure_injection(spark, tmp_path, monkeypatch, k):
    """Crash after k of n manifest commits, with every bucket already
    written: the rerun redoes exactly the n-k uncommitted buckets, skips
    the k committed ones, and ends with the manifest and data of an
    uninterrupted run on a fresh directory."""
    df = spark.createDataFrame(corpus_rows(60, seed=42), PAGES_SCHEMA_DDL)
    ref_out = str(tmp_path / "ref")
    ref = run_with_resume(spark, df, ref_out, n_buckets=4)
    n = len(ref["processed"])
    assert n == 4  # every bucket populated, so a resume always has work

    out = str(tmp_path / "crash")
    committed = _crash_after_commits(spark, df, out, k, monkeypatch)

    r = run_with_resume(spark, df, out, n_buckets=4)
    assert sorted(r["skipped"]) == sorted(committed)
    assert sorted(r["processed"]) == sorted(set(ref["processed"]) - set(committed))
    assert len(r["processed"]) == n - k
    ref_manifest = _manifest(ref_out)
    assert r["rows"] == sum(ref_manifest[b][0] for b in r["processed"])
    assert _manifest(out) == ref_manifest
    assert _extracted(spark, out) == _extracted(spark, ref_out)


def test_run_with_resume_after_input_rewrite(spark, tmp_path, monkeypatch):
    """S6 contract when the input changes between a crash and its
    resume: the ledger is per bucket, not per input version. A crash
    commits 2 of 4 buckets, then every page's text is rewritten. The
    rerun keeps the 2 committed buckets as they were (manifest digest
    and parquet bytes) and extracts the 2 pending buckets from the new
    text, exactly as a fresh run over the rewritten input would."""
    df = spark.createDataFrame(corpus_rows(60, seed=42), PAGES_SCHEMA_DDL)
    marker = "FACTURA REESCRITA"
    rewritten = df.withColumn(
        "text", F.concat(F.lit(marker + "\n"), F.coalesce("text", F.lit("")))
    )
    old_ref, new_ref = str(tmp_path / "ref_old"), str(tmp_path / "ref_new")
    run_with_resume(spark, df, old_ref, n_buckets=4)
    run_with_resume(spark, rewritten, new_ref, n_buckets=4)
    old_m, new_m = _manifest(old_ref), _manifest(new_ref)
    assert set(old_m) == set(new_m) == {0, 1, 2, 3}
    assert all(old_m[b][1] != new_m[b][1] for b in old_m)  # rewrite shows

    out = str(tmp_path / "crash")
    committed = _crash_after_commits(spark, df, out, 2, monkeypatch)
    pending = sorted(set(old_m) - set(committed))
    kept_bytes = {b: _bucket_bytes(out, b) for b in committed}

    r = run_with_resume(spark, rewritten, out, n_buckets=4)
    assert sorted(r["skipped"]) == sorted(committed)
    assert r["processed"] == pending
    got = _manifest(out)
    for b in committed:
        assert got[b] == old_m[b]
        assert _bucket_bytes(out, b) == kept_bytes[b]
    for b in pending:
        assert got[b] == new_m[b]
    want = {
        row for row in _extracted(spark, old_ref) if row[0] in committed
    } | {row for row in _extracted(spark, new_ref) if row[0] in pending}
    assert _extracted(spark, out) == want
    texts = spark.read.parquet(os.path.join(out, "extracted")).collect()
    assert all(
        t.extracted_text.startswith(marker) == (t.bucket in pending)
        for t in texts
    )


def test_run_with_resume_rejects_other_bucket_count(spark, tmp_path):
    """A rerun with another ``n_buckets`` raises instead of skipping
    committed bucket numbers hashed under the old modulus (which left 88
    rows for 60 pages: 4 -> 8 skipped buckets 0-3 of the new layout)."""
    df = spark.createDataFrame(corpus_rows(60, seed=42), PAGES_SCHEMA_DDL)
    out = str(tmp_path / "job")
    run_with_resume(spark, df, out, n_buckets=4)
    with pytest.raises(ValueError, match=r"n_buckets=4\b.*n_buckets=8\b"):
        run_with_resume(spark, df, out, n_buckets=8)
    assert spark.read.parquet(os.path.join(out, "extracted")).count() == 60
    assert run_with_resume(spark, df, out, n_buckets=4)["processed"] == []


def _job_ids(spark, group: str, fn) -> list[int]:
    """The ids of the Spark jobs ``fn()`` launches, run in job group
    ``group`` (a name no other call uses)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_run_with_resume_runs_only_the_write(spark, tmp_path):
    """A run launches exactly the jobs of its bucketed write (the
    exchange's map stage, then the write stage): each bucket's manifest
    entry comes from the write stage itself, not from a second query
    that reads the written files back (2 more jobs)."""
    from facturas_spark.pipeline import extract_pages_header

    df = spark.createDataFrame(corpus_rows(40, seed=42), PAGES_SCHEMA_DDL)
    run = _job_ids(
        spark,
        f"run-{tmp_path.name}",
        lambda: run_with_resume(spark, df, str(tmp_path / "job"), n_buckets=4),
    )
    write = _job_ids(
        spark,
        f"write-{tmp_path.name}",
        lambda: write_bucketed(
            extract_pages_header(df), str(tmp_path / "write"), n_buckets=4
        ),
    )
    assert len(run) == len(write) == 2


def test_run_with_resume_leaves_unwritten_leftover_uncommitted(spark, tmp_path, monkeypatch):
    """A bucket directory that a crashed run wrote but never committed,
    and that gets no rows in this run, is not this run's work: it is
    neither in ``processed`` nor committed, and ``rows`` counts only what
    this run wrote. A later run that does get its pages commits it with
    the reference entry."""
    from facturas_spark.pipeline import with_salt_bucket

    df = spark.createDataFrame(corpus_rows(60, seed=42), PAGES_SCHEMA_DDL)
    ref_out = str(tmp_path / "ref")
    run_with_resume(spark, df, ref_out, n_buckets=4)
    ref = _manifest(ref_out)

    out = str(tmp_path / "crash")
    _crash_after_commits(spark, df, out, 0, monkeypatch)
    assert os.path.isdir(os.path.join(out, "extracted", "bucket=3"))
    rest = with_salt_bucket(df, n_buckets=4).filter(F.col("bucket") != 3).drop("bucket")
    r = run_with_resume(spark, rest, out, n_buckets=4)
    assert r["processed"] == [0, 1, 2]
    assert r["rows"] == sum(ref[b][0] for b in (0, 1, 2)) == 60 - ref[3][0]
    assert _manifest(out) == {b: ref[b] for b in (0, 1, 2)}

    assert run_with_resume(spark, df, out, n_buckets=4)["processed"] == [3]
    assert _manifest(out) == ref
    assert _extracted(spark, out) == _extracted(spark, ref_out)


_RETRY_JOB = r"""
import json, os, sys
sys.path.insert(0, %(repo)r)
from pyspark import TaskContext
from facturas_spark.session import get_spark

# local[2,2]: two cores, and a task gets a second attempt before its
# job fails
spark = get_spark("write-retry", cores=2, extra_conf={
    "spark.master": "local[2,2]", "spark.driver.memory": "1g"})
from facturas_spark.sources import io
from facturas_spark.synth import PAGES_SCHEMA_DDL, corpus_rows

tmp = sys.argv[1]
df = spark.createDataFrame(corpus_rows(60, seed=42), PAGES_SCHEMA_DDL)
tap = io._bucket_digests


def failing(attempts):
    # the first write-stage task raises once its tap has seen every row,
    # on the attempts listed
    def wrap(acc):
        inner = tap(acc)

        def run(batches):
            yield from inner(batches)
            ctx = TaskContext.get()
            if ctx.partitionId() == 0 and ctx.attemptNumber() in attempts:
                raise RuntimeError("injected write-stage failure")

        return run

    return wrap


def state(out):
    manifest = io.LineageManifest(os.path.join(out, "_manifest")).committed()
    path = os.path.join(out, "extracted")
    rows = []
    if os.path.isdir(path) and any(d.startswith("bucket=") for d in os.listdir(path)):
        rows = sorted(repr(tuple(r)) for r in spark.read.parquet(path).collect())
    return {"manifest": {str(b): [e["rows"], e["digest"]] for b, e in manifest.items()},
            "rows": rows}


result = {}
ref = os.path.join(tmp, "ref")
io.run_with_resume(spark, df, ref, n_buckets=4)
result["ref"] = state(ref)

for name, attempts in (("retry", (0,)), ("every", (0, 1))):
    out = os.path.join(tmp, name)
    io._bucket_digests = failing(attempts)
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        result[name] = {"run": io.run_with_resume(spark, df, out, n_buckets=4)}
    except Exception as exc:
        result[name] = {"error": "injected write-stage failure" in str(exc)}
    finally:
        io._bucket_digests = tap
    tracker = sc.statusTracker()
    result[name]["failed_tasks"] = sum(
        tracker.getStageInfo(s).numFailedTasks
        for j in tracker.getJobIdsForGroup(name)
        for s in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(s) is not None
    )
    result[name]["after"] = state(out)

sc.setLocalProperty("spark.jobGroup.id", None)
out = os.path.join(tmp, "every")
result["every"]["rerun"] = io.run_with_resume(spark, df, out, n_buckets=4)
result["every"]["after_rerun"] = state(out)
spark.stop()
print("RESULT" + json.dumps(result))
"""


@pytest.fixture(scope="module")
def write_retry(tmp_path_factory):
    """Runs in a subprocess: the retry budget (``local[N,F]``) is fixed
    when a SparkContext starts, and the session fixture owns this
    process's."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_JOB % {"repo": repo},
         str(tmp_path_factory.mktemp("write_retry"))],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=repo,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT"):
            return json.loads(line[len("RESULT"):])
    pytest.fail(f"retry job produced no RESULT line:\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}")


def test_write_stage_retry_commits_reference(write_retry):
    """One write-stage task fails on its first attempt, after its tap has
    taken every row's hash; the retry succeeds. The manifest and the rows
    equal an uninterrupted run's: the retried task's entries count once."""
    ref, got = write_retry["ref"], write_retry["retry"]
    assert got["failed_tasks"] == 1
    assert got["run"]["processed"] == [0, 1, 2, 3]
    assert got["run"]["rows"] == 60
    assert got["after"] == ref
    assert len(ref["manifest"]) == 4


def test_write_stage_failure_commits_nothing(write_retry):
    """A write-stage task that fails on every attempt fails the run with
    no new manifest entry; a rerun converges to the uninterrupted run."""
    ref, got = write_retry["ref"], write_retry["every"]
    assert got["error"] is True
    assert got["failed_tasks"] == 2
    assert got["after"]["manifest"] == {}
    assert got["rerun"]["processed"] == [0, 1, 2, 3]
    assert got["after_rerun"] == ref


def _python_evals(plan) -> list:
    """Every ArrowEvalPython node of a JVM physical plan."""
    found = [plan] if plan.nodeName() == "ArrowEvalPython" else []
    kids = plan.children()
    for i in range(kids.size()):
        found += _python_evals(kids.apply(i))
    return found


def test_run_with_resume_header_kernel_ab(spark, tmp_path, monkeypatch):
    """The S5/S6 sink runs the header-only kernel and writes one file per
    bucket, with the rows and manifest digests of the full kernel."""
    import hashlib

    from facturas_spark.pipeline import extract_pages_full, with_salt_bucket

    rows = corpus_rows(80, seed=7)
    assert any(r[3] is None for r in rows)  # html-only pages
    df = spark.createDataFrame(rows, PAGES_SCHEMA_DDL)
    assert df.rdd.getNumPartitions() > 1  # else one file per bucket is free
    full = with_salt_bucket(extract_pages_full(df), n_buckets=4)
    want = full.drop("productos")

    written = []

    def spy(extracted, path, *, n_buckets):
        written.append(extracted)
        return write_bucketed(extracted, path, n_buckets=n_buckets)

    monkeypatch.setattr("facturas_spark.sources.io.write_bucketed", spy)
    out = str(tmp_path / "job")
    assert run_with_resume(spark, df, out, n_buckets=4)["processed"] == [0, 1, 2, 3]

    (extracted,) = written
    evals = _python_evals(extracted._jdf.queryExecution().sparkPlan())
    assert len(evals) == 1
    assert "productos" not in evals[0].schema().simpleString()
    assert "productos" not in extracted.columns

    back = spark.read.parquet(os.path.join(out, "extracted"))
    assert back.columns == want.columns

    def by_url(df):
        return sorted(df.collect(), key=lambda r: r.url)

    assert by_url(back) == by_url(want)

    per_bucket: dict[int, list[str]] = {}
    for r in full.select("bucket", "extracted_text").collect():
        per_bucket.setdefault(r.bucket, []).append(
            hashlib.md5(r.extracted_text.encode()).hexdigest()
        )
    digests = {
        b: hashlib.md5("|".join(sorted(hs)).encode()).hexdigest()
        for b, hs in per_bucket.items()
    }
    assert {b: d for b, (_, d) in _manifest(out).items()} == digests

    def parquet_files(b):
        part = os.path.join(out, "extracted", f"bucket={b}")
        return [f for f in os.listdir(part) if f.endswith(".parquet")]

    assert all(len(parquet_files(b)) == 1 for b in range(4))
    # a resume rewrites its buckets as one file each as well
    for b in (0, 2):
        os.remove(os.path.join(out, "_manifest", f"bucket={b}.json"))
    assert run_with_resume(spark, df, out, n_buckets=4)["processed"] == [0, 2]
    assert all(len(parquet_files(b)) == 1 for b in range(4))
    assert {b: d for b, (_, d) in _manifest(out).items()} == digests


def test_stream_extract_incremental(spark, tmp_path):
    from facturas_spark.streaming.stream import stream_extract_pages

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    batch1 = spark.createDataFrame(corpus_rows(20, seed=1), PAGES_SCHEMA_DDL)
    batch1.write.mode("append").parquet(in_dir)
    stream_extract_pages(spark, in_dir, out_dir, ckpt)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == 20

    # new files arrive; checkpoint ensures only they are processed
    batch2 = spark.createDataFrame(corpus_rows(15, seed=2), PAGES_SCHEMA_DDL)
    batch2.write.mode("append").parquet(in_dir)
    stream_extract_pages(spark, in_dir, out_dir, ckpt)
    out = spark.read.parquet(out_dir)
    assert out.count() == 35
    assert out.select("url").distinct().count() == 35
    assert out.filter(F.col("proveedor_cif").isNull()).count() == 0


def test_stream_extract_header_kernel(spark, tmp_path, monkeypatch):
    """The streaming extraction sink runs the header-only kernel: its rows
    equal extract_pages_header over the same files, and its one Python
    eval node never computes ``productos``."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from facturas_spark.pipeline import extract_pages_header
    from facturas_spark.streaming.stream import stream_extract_pages

    started = []
    start = DataStreamWriter.start

    def spy(writer, *args, **kwargs):
        started.append(start(writer, *args, **kwargs))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "start", spy)
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    rows = corpus_rows(30, seed=5)
    assert any(r[3] is None for r in rows)  # html-only pages
    spark.createDataFrame(rows, PAGES_SCHEMA_DDL).write.parquet(in_dir)
    stream_extract_pages(spark, in_dir, out_dir, str(tmp_path / "ckpt"))

    (query,) = started
    last = query._jsq.streamingQuery().lastExecution()
    evals = _python_evals(last.executedPlan())
    assert len(evals) == 1
    assert "productos" not in evals[0].schema().simpleString()

    want = extract_pages_header(spark.read.parquet(in_dir))
    back = spark.read.parquet(out_dir)
    assert back.columns == want.columns

    def by_url(df):
        return sorted(df.collect(), key=lambda r: r.url)

    assert by_url(back) == by_url(want)


# --- Iceberg path (gated: no Iceberg jar in this container) --------------


def test_iceberg_unavailable_detection(spark):
    from facturas_spark.sources.iceberg import (
        IcebergUnavailable,
        create_pages_table,
        iceberg_available,
        write_pages,
    )

    assert iceberg_available(spark) is False
    import pytest as _pytest

    with _pytest.raises(IcebergUnavailable):
        create_pages_table(spark)
    with _pytest.raises(IcebergUnavailable):
        write_pages(spark.range(1))


def test_iceberg_config_probe_requires_classpath(spark):
    """A configured catalog without the jar on the classpath must still
    report unavailable (config alone doesn't make writes work)."""
    from facturas_spark.sources.iceberg import iceberg_available

    spark.conf.set(
        "spark.sql.catalog.probe_cat", "org.apache.iceberg.spark.SparkCatalog"
    )
    try:
        assert iceberg_available(spark, "probe_cat") is False
    finally:
        spark.conf.unset("spark.sql.catalog.probe_cat")


def test_iceberg_ddl_matches_parquet_sink_columns(spark, tmp_path, monkeypatch):
    """The table extract_job's --iceberg-table sink creates takes exactly
    the columns the bucketed-parquet sink (run_with_resume) writes, minus
    the parquet layout's ``bucket`` column: same names, order and types.
    Iceberg's ``writeTo(...).overwritePartitions()`` matches by name, so
    both sinks then hold the same rows."""
    from pyspark.sql.types import StructType

    from facturas_spark.sources import iceberg

    out = str(tmp_path / "job")
    pages = spark.createDataFrame(corpus_rows(8, seed=3), PAGES_SCHEMA_DDL)
    run_with_resume(spark, pages, out, n_buckets=2)
    sink = spark.read.parquet(os.path.join(out, "extracted")).drop("bucket")

    sql = []
    monkeypatch.setattr(iceberg, "iceberg_available", lambda *a, **k: True)
    monkeypatch.setattr(spark, "sql", sql.append)
    iceberg.create_pages_table(spark, "lake.crawl.t", n_buckets=8)

    (ddl,) = sql
    cols = re.search(r"lake\.crawl\.t \((.*)\)\s*USING iceberg", ddl, re.S)[1]
    got = StructType.fromDDL(cols)
    assert [(f.name, f.dataType) for f in got.fields] == [
        (f.name, f.dataType) for f in sink.schema.fields
    ]
    assert "bucket(8, url)" in ddl


@pytest.mark.parametrize(
    "flags", [["--streaming", "--iceberg-table", "lake.db.t"],
              ["--streaming", "--url-filter"]],
)
def test_extract_job_rejects_flags_streaming_ignores(flags, monkeypatch, capsys):
    """Flags the streaming path would silently ignore are usage errors,
    raised before any Spark session starts."""
    from facturas_spark import session
    from facturas_spark.jobs.extract_job import main

    def no_spark(*a, **k):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(session, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exc:
        main(["--input", "in", "--output", "out", *flags])
    assert exc.value.code == 2
    assert "--streaming" in capsys.readouterr().err


def test_cola_procesamiento_retry_state_machine(spark):
    """Queue semantics (Database_tables:375-415): priority-ordered pull,
    retry bump on failure, re-queue under max_intentos, terminal 'error'
    at the cap, untouched rows stay pending for the next pull."""
    from datetime import date

    from facturas_spark.sources.queue import cola_apply_results, cola_next_batch

    queue = spark.createDataFrame(
        [
            # (doc, rest, prioridad, estado, intentos, max, fecha, error)
            (1, 1, 3, "pendiente", 0, 3, date(2025, 1, 2), None),
            (2, 1, 1, "pendiente", 2, 3, date(2025, 1, 3), "prev"),  # last try
            (3, 1, 1, "pendiente", 0, 3, date(2025, 1, 1), None),
            (4, 1, 2, "pendiente", 3, 3, date(2025, 1, 1), None),  # exhausted
            (5, 1, 1, "completado", 0, 3, date(2025, 1, 1), None),  # done
        ],
        "documento_id int, restaurante_id int, prioridad int, estado string, "
        "intentos int, max_intentos int, fecha_programada date, ultimo_error string",
    )
    batch = cola_next_batch(queue, 2).collect()
    # eligibility excludes 4 (exhausted) and 5 (done); priority 1 beats 3;
    # within priority 1, older fecha first -> [3, 2]
    assert [r["documento_id"] for r in batch] == [3, 2]

    results = spark.createDataFrame(
        [(3, True, None), (2, False, "OCR_TIMEOUT")],
        "documento_id int, exito boolean, error string",
    )
    out = {
        r["documento_id"]: r
        for r in cola_apply_results(
            cola_next_batch(queue, 2), results
        ).collect()
    }
    assert out[3]["estado"] == "completado" and out[3]["intentos"] == 0
    # failure on the last attempt -> intentos hits max, parked terminal
    assert out[2]["estado"] == "error" and out[2]["intentos"] == 3
    assert out[2]["ultimo_error"] == "OCR_TIMEOUT"

    # failure UNDER the cap re-queues as pendiente
    results2 = spark.createDataFrame(
        [(3, False, "BAD_PDF")], "documento_id int, exito boolean, error string"
    )
    out2 = cola_apply_results(cola_next_batch(queue, 1), results2).collect()[0]
    assert out2["estado"] == "pendiente" and out2["intentos"] == 1
    assert out2["ultimo_error"] == "BAD_PDF"


def test_whatsapp_phone_variations_and_routing(spark):
    """webhook-whatsapp:55-145 exact rules: 4 ordered variations,
    first-match-wins, activo gate, media idempotence per restaurante."""
    from facturas_spark.sources.whatsapp import phone_variations, route_whatsapp

    vs = (
        spark.range(1)
        .select(phone_variations(F.lit("+34 622-902(777)")).alias("v"))
        .first()["v"]
    )
    # limpio='+34622902777' does NOT start with '34' (the '+' survives the
    # strip) -> sin-34 == limpio — faithful quirk of the reference's order
    assert vs == [
        "+34622902777", "++34622902777", "+34622902777", "+34+34622902777",
    ]
    vs2 = (
        spark.range(1)
        .select(phone_variations(F.lit("34 622 902 777")).alias("v"))
        .first()["v"]
    )
    assert vs2 == ["34622902777", "+34622902777", "622902777", "+34622902777"]

    msgs = spark.createDataFrame(
        [
            (1, "34 622902777", "mA"),   # matches stored '622902777' via v3
            (2, "622902777", "mA"),      # same restaurante + same media -> dup
            (3, "622000000", "mB"),      # inactive vinculación -> no_vinculado
            (4, "699999999", "mC"),      # unknown -> no_vinculado
        ],
        "msg_id int, telefono string, media_id string",
    )
    vinc = spark.createDataFrame(
        [("622902777", 7, True), ("622000000", 9, False)],
        "telefono string, restaurante_id int, activo boolean",
    )
    out = {r["msg_id"]: r for r in route_whatsapp(msgs, vinc).collect()}
    assert out[1]["estado"] == "aceptado" and out[1]["restaurante_id"] == 7
    assert out[2]["estado"] == "duplicado"
    assert out[3]["estado"] == "no_vinculado"
    assert out[4]["estado"] == "no_vinculado"


def test_whatsapp_single_semantics_on_duplicate_vinculaciones(spark):
    """webhook-whatsapp:104 uses .single(): a variation matching >1 active
    vinculación ERRORS and is skipped — the router must fall through to
    the next variation (or no_vinculado), never pick one arbitrarily."""
    from facturas_spark.sources.whatsapp import route_whatsapp

    msgs = spark.createDataFrame(
        [
            # v1 '34622902777' is ambiguous (2 active rows) but v3
            # '622902777' matches exactly one -> routes via v3
            (1, "34 622902777", "mA"),
            # every variation of this number is ambiguous -> no_vinculado
            (2, "34 622111222", "mB"),
        ],
        "msg_id int, telefono string, media_id string",
    )
    vinc = spark.createDataFrame(
        [
            ("34622902777", 1, True),
            ("34622902777", 2, True),
            ("622902777", 7, True),
            ("622111222", 3, True),
            ("622111222", 4, True),
            ("34622111222", 5, True),
            ("34622111222", 6, True),
        ],
        "telefono string, restaurante_id int, activo boolean",
    )
    out = {r["msg_id"]: r for r in route_whatsapp(msgs, vinc).collect()}
    assert out[1]["estado"] == "aceptado" and out[1]["restaurante_id"] == 7
    assert out[2]["estado"] == "no_vinculado"
    assert out[2]["restaurante_id"] is None


def test_mailgun_routing_gate_order(spark):
    """weebhook-mailgun:180-205: domain substring gate fires BEFORE the
    format/lookup gates; unique_id is the LAST dot segment."""
    from facturas_spark.sources.whatsapp import MAILGUN_DOMAIN, route_mailgun

    emails = spark.createDataFrame(
        [
            (1, f"facturas.r7{MAILGUN_DOMAIN}", 2),      # aceptado
            (2, f"a.b.r7{MAILGUN_DOMAIN}", 1),           # last segment wins
            (3, f"nodots{MAILGUN_DOMAIN}", 1),           # formato_invalido
            (4, "facturas.r7@gmail.com", 1),             # wrong domain first
            (5, f"facturas.zz{MAILGUN_DOMAIN}", 1),      # unknown tenant
            (6, f"facturas.r7{MAILGUN_DOMAIN}", 0),      # sin_adjuntos
        ],
        "msg_id int, recipient string, n_attachments int",
    )
    rest = spark.createDataFrame([("r7", 7)], "unique_id string, restaurante_id int")
    out = {r["msg_id"]: r for r in route_mailgun(emails, rest).collect()}
    assert out[1]["estado"] == "aceptado" and out[1]["restaurante_id"] == 7
    assert out[2]["estado"] == "aceptado"
    assert out[3]["estado"] == "formato_invalido"
    assert out[4]["estado"] == "destinatario_invalido"
    assert out[5]["estado"] == "restaurante_no_encontrado"
    assert out[6]["estado"] == "sin_adjuntos"


def test_bucketed_join_without_shuffle(spark, tmp_path):
    """Co-located join via bucketBy: two tables bucketed+sorted on the join
    key join WITHOUT any Exchange — the storage-layout contract that makes
    repeated 100-TB fact-to-fact joins affordable (shuffle once at write
    time, never again at read time). SortMergeJoin reads the bucketed
    layout directly."""
    import uuid

    from pyspark.sql import functions as F

    db = f"bucketdemo_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {db}")
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # force the sort-merge path: with broadcast available the planner
    # ignores bucketing entirely for tables this small
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = spark.range(0, 10000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v1")
        )
        right = spark.range(0, 10000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v2")
        )
        for name, df in (("t1", left), ("t2", right)):
            (
                df.write.bucketBy(8, "k")
                .sortBy("k")
                .format("parquet")
                .saveAsTable(f"{db}.{name}")
            )
        joined = spark.table(f"{db}.t1").join(spark.table(f"{db}.t2"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        spark.sql(f"DROP DATABASE {db} CASCADE")


def test_commitfs_hadoop_route(spark, tmp_path):
    """A non-local scheme takes the JVM Hadoop FileSystem route (the one
    that serves hdfs:// and s3a:// on a cluster), and its rename-commit
    protocol holds: tmp files are never visible as committed names,
    re-commit overwrites idempotently. Run on a viewfs:// mount of
    ``tmp_path``, whose scheme is rename-atomic."""
    import uuid

    from facturas_spark.sources.fs import CommitFS

    conf = spark._jsc.hadoopConfiguration()
    table = f"commitfs{uuid.uuid4().hex[:8]}"
    key = f"fs.viewfs.mounttable.{table}.link./m"
    conf.set(key, f"file://{tmp_path}")
    try:
        fs = CommitFS(f"viewfs://{table}/m/ledger", spark=spark)
        assert fs._jfs is not None  # JVM route, not the local one
        assert fs._scheme == "viewfs"
        fs.write_json("bucket=1.json", {"bucket": 1, "rows": 10})
        fs.write_json("bucket=2.json", {"bucket": 2, "rows": 20})
        fs.write_json("bucket=1.json", {"bucket": 1, "rows": 10})  # idempotent
        names = [n for n in fs.list_names() if n.endswith(".json")]
        assert sorted(names) == ["bucket=1.json", "bucket=2.json"]
        assert not [n for n in fs.list_names() if n.endswith(".tmp")]
        assert fs.read_json("bucket=1.json")["rows"] == 10
        with open(tmp_path / "ledger" / "bucket=2.json") as f:
            assert f.read() == '{"bucket": 2, "rows": 20}'
    finally:
        conf.unset(key)


def test_lineage_manifest_local_route(spark, tmp_path):
    """With a session up, a local manifest dir takes the ``os`` route,
    the one pure-Python callers use: no JVM FileSystem, and no ``.crc``
    sibling (Hadoop's local FileSystem writes one per file, forking a
    ``chmod`` for each without its native library)."""
    m = LineageManifest(str(tmp_path / "_m"))
    assert m._fs._jfs is None
    m.pin_layout(8)
    m.commit(7, 42, "digest")
    m.commit(7, 42, "digest")  # idempotent
    assert m.committed() == {7: {"bucket": 7, "rows": 42, "digest": "digest"}}
    assert sorted(os.listdir(tmp_path / "_m")) == ["bucket=7.json", "layout.json"]


@pytest.mark.parametrize("prefix", ["file://", "file:"])
def test_commitfs_file_uri(spark, tmp_path, prefix):
    """A ``file:`` URI base dir takes the local route at its path."""
    from facturas_spark.sources.fs import CommitFS

    fs = CommitFS(f"{prefix}{tmp_path}/ledger", spark=spark)
    assert fs._jfs is None
    fs.write_json("stage=flags.json", {"stage": "flags", "rows": 3})
    assert os.listdir(tmp_path / "ledger") == ["stage=flags.json"]
    assert fs.read_json("stage=flags.json")["rows"] == 3


def test_commitfs_drops_stale_crc(spark, tmp_path):
    """A marker Hadoop's local FileSystem wrote has a ``.crc`` sibling;
    replacing the marker on the local route removes it, so a checksummed
    Hadoop read of the ledger returns the new marker instead of failing
    on the old checksum."""
    jvm = spark._jvm
    ledger = str(tmp_path / "_m")
    final = jvm.org.apache.hadoop.fs.Path(f"file://{ledger}/bucket=3.json")
    jfs = final.getFileSystem(spark._jsc.hadoopConfiguration())
    out = jfs.create(final, True)
    try:
        out.write(b'{"bucket": 3, "rows": 1, "digest": "old"}')
    finally:
        out.close()
    assert ".bucket=3.json.crc" in os.listdir(ledger)

    LineageManifest(ledger).commit(3, 120, "new")
    assert sorted(os.listdir(ledger)) == ["bucket=3.json"]
    stream = jfs.open(final)
    try:
        data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    assert json.loads(data) == {"bucket": 3, "rows": 120, "digest": "new"}
