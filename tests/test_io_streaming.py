"""Sources/sinks + resume + streaming tests (SURVEY §2.1 S2/S5/S6, §7)."""

from __future__ import annotations

import os

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
    write_bucketed(df.select("url", "lang"), path, n_buckets=4)
    dirs = {d for d in os.listdir(path) if d.startswith("bucket=")}
    assert len(dirs) >= 3  # urls spread across buckets despite host skew
    back = spark.read.parquet(path)
    assert back.count() == 50


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
        write_bucketed(extracted, path, n_buckets=n_buckets)

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


def test_stream_windowed_events_plan(spark):
    """Watermark + tumbling window compiles into a streaming plan."""
    from facturas_spark.streaming.stream import stream_windowed_events

    ev = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
    ev = ev.select(
        F.col("timestamp").alias("ts"),
        F.lit("purchase").alias("event_type"),
        F.col("value").cast("double"),
    )
    agg = stream_windowed_events(ev)
    assert agg.isStreaming
    assert {"inicio", "fin", "event_type", "eventos", "total_valor"} == set(agg.columns)

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


def test_stream_dedup_urls_stateful(spark, tmp_path):
    """applyInPandasWithState url-dedup: first delivery wins inside a batch,
    re-deliveries in later micro-batches are suppressed via checkpointed
    keyed state (restart-safe)."""
    import duckdb

    from facturas_spark.streaming.stream import stream_dedup_urls

    indir, outdir, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    import os

    os.makedirs(indir, exist_ok=True)
    duckdb.sql(f"""
      COPY (SELECT 'u://' || (i % 3) AS url,
                   TIMESTAMP '2025-01-01' + INTERVAL (i) MINUTE AS warc_ts,
                   NULL::BLOB AS html, 'doc ' || i AS text, 'es' AS lang
            FROM range(6) t(i))
      TO '{indir}/b1.parquet' (FORMAT PARQUET)
    """)
    stream_dedup_urls(spark, indir, outdir, ckpt)
    out1 = spark.read.parquet(outdir).collect()
    # 6 rows over 3 urls -> 3 emissions, each the EARLIEST warc_ts per url
    assert len(out1) == 3
    assert {r["text"] for r in out1} == {"doc 0", "doc 1", "doc 2"}

    # second batch: same urls again + one new -> only the new one emits
    duckdb.sql(f"""
      COPY (SELECT 'u://' || i AS url,
                   TIMESTAMP '2025-02-01' AS warc_ts,
                   NULL::BLOB AS html, 'late ' || i AS text, 'es' AS lang
            FROM range(4) t(i))
      TO '{indir}/b2.parquet' (FORMAT PARQUET)
    """)
    stream_dedup_urls(spark, indir, outdir, ckpt)
    out2 = spark.read.parquet(outdir).collect()
    assert len(out2) == 4
    assert "late 3" in {r["text"] for r in out2}


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


def test_stream_to_bucketed_exactly_once(spark, tmp_path):
    """Streaming -> bucketed sink: (1) drains files into the bucket=K
    layout; (2) a rerun with the checkpoint intact appends ONLY new files;
    (3) a rerun with the checkpoint DELETED (worst-case retry: every epoch
    replays) appends nothing — the epoch ledger makes replays no-ops."""
    from facturas_spark.streaming.stream import PAGES_DDL, stream_extract_to_bucketed
    from facturas_spark.synth import corpus_rows

    in_dir = tmp_path / "in"
    out_dir = tmp_path / "out"
    ckpt = tmp_path / "ckpt"

    def drop(rows):
        # write through Spark so the parquet timestamp physical type matches
        # what the stream's reader schema expects
        spark.createDataFrame(rows, PAGES_DDL).coalesce(1).write.mode(
            "append"
        ).parquet(str(in_dir))

    drop(corpus_rows(10, seed=1))
    stream_extract_to_bucketed(spark, str(in_dir), str(out_dir), str(ckpt))
    read = lambda: spark.read.parquet(str(out_dir / "extracted"))  # noqa: E731
    assert read().count() == 10
    assert "bucket" in read().columns

    # THE crash window: parquet written, but neither the ledger entry nor
    # the streaming checkpoint committed -> the epoch replays and must
    # overwrite its own directory, not append to it
    import shutil

    (out_dir / "_epoch_manifest" / "epoch=0.json").unlink()
    shutil.rmtree(ckpt)
    stream_extract_to_bucketed(spark, str(in_dir), str(out_dir), str(ckpt))
    assert read().count() == 10
    assert read().select("url").distinct().count() == 10

    # new file -> only its rows appended
    drop(corpus_rows(6, seed=2))
    stream_extract_to_bucketed(spark, str(in_dir), str(out_dir), str(ckpt))
    assert read().count() == 16

    # checkpoint lost -> all epochs replay -> ledger suppresses every write
    shutil.rmtree(ckpt)
    stream_extract_to_bucketed(spark, str(in_dir), str(out_dir), str(ckpt))
    assert read().count() == 16
    assert read().select("url").distinct().count() == 16


def test_commitfs_hadoop_route(spark, tmp_path):
    """CommitFS must take the JVM Hadoop FileSystem route when a session
    is active (the object-store-safe path), and the marker protocol must
    hold: tmp files are never visible as committed names, re-commit
    overwrites idempotently."""
    from facturas_spark.sources.fs import CommitFS

    fs = CommitFS(str(tmp_path / "ledger"), spark=spark)
    assert fs._jfs is not None  # JVM route, not the POSIX fallback
    assert fs._scheme == "file"
    fs.write_json("bucket=1.json", {"bucket": 1, "rows": 10})
    fs.write_json("bucket=2.json", {"bucket": 2, "rows": 20})
    fs.write_json("bucket=1.json", {"bucket": 1, "rows": 10})  # idempotent
    names = [n for n in fs.list_names() if n.endswith(".json")]
    assert sorted(names) == ["bucket=1.json", "bucket=2.json"]
    assert not [n for n in fs.list_names() if n.endswith(".tmp")]
    assert fs.read_json("bucket=1.json")["rows"] == 10


def test_lineage_manifest_uses_hadoop_fs(spark, tmp_path):
    """The manifest the resume job writes must route through CommitFS's
    JVM path while a session is up — the same code that serves s3a:// in
    production."""
    m = LineageManifest(str(tmp_path / "_m"))
    assert m._fs._jfs is not None
    m.commit(7, 42, "digest")
    assert m.committed()[7] == {"bucket": 7, "rows": 42, "digest": "digest"}


def test_stream_clean_increment(spark, tmp_path):
    """Streaming corpus-clean increment: batch 1 seeds the corpus through
    the quality stages; batch 2 carries an exact duplicate and a near
    duplicate of corpus docs plus fresh docs — both dup kinds must be
    dropped against the PERSISTED indexes, fresh docs kept; an immediate
    re-run drains nothing (checkpoint) and replayed epochs are no-ops
    (ledger)."""
    from facturas_spark.streaming.stream import stream_clean_increment

    in_dir = tmp_path / "in"
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    in_dir.mkdir()

    base = (
        "the quick brown fox and the lazy dog of the farm run in a field "
        "of corn with a river and the old mill behind the hill"
    )
    def doc(i, text, source="web"):
        return (i, source, "en", text)

    b1 = [doc(i, f"{base} variant number {i} marker{i}") for i in range(5)]
    spark.createDataFrame(b1, "doc_id long, source string, lang string, text string") \
        .write.mode("append").parquet(str(in_dir))
    stream_clean_increment(spark, str(in_dir), corpus, ckpt)

    kept1 = spark.read.parquet(f"{corpus}/docs")
    n1 = kept1.count()
    assert n1 == 5  # all pass quality, none duplicate

    # batch 2: 10 = exact dup of doc 2's text; 11 = near dup of doc 3
    # (same long text, one word changed -> Jaccard >> 0.5); 12 = fresh
    b2 = [
        doc(10, f"{base} variant number 2 marker2"),
        doc(11, f"{base} variant number 3 marker3 extra"),
        doc(12, f"{base} a completely different tail about boats and the sea "
                "with sails and the wind of the north"),
    ]
    spark.createDataFrame(b2, "doc_id long, source string, lang string, text string") \
        .write.mode("append").parquet(str(in_dir))
    stream_clean_increment(spark, str(in_dir), corpus, ckpt)

    kept = {r.doc_id for r in spark.read.parquet(f"{corpus}/docs").collect()}
    assert 10 not in kept, "exact duplicate must drop against the fp index"
    assert 11 not in kept, "near duplicate must drop against the band index"
    assert 12 in kept
    assert kept == {0, 1, 2, 3, 4, 12}

    # idempotent drain: nothing new -> corpus unchanged
    stream_clean_increment(spark, str(in_dir), corpus, ckpt)
    assert spark.read.parquet(f"{corpus}/docs").count() == 6
    # index layers stay in lockstep with docs
    assert spark.read.parquet(f"{corpus}/fps").count() == 6


def test_watermark_drops_late_events(spark, tmp_path):
    """Real watermark semantics, not just a plan check: append-mode
    windowed aggregation across two availableNow drains. Batch 1
    advances event time far past the watermark horizon; batch 2 replays
    events OLDER than the horizon (late data) plus one fresh event.
    The late rows must not resurrect or alter their closed windows."""
    from datetime import datetime

    from facturas_spark.streaming.stream import stream_windowed_events

    in_dir = str(tmp_path / "ev")
    out_dir = str(tmp_path / "win")
    ckpt = str(tmp_path / "ck")
    ddl = "ts timestamp, event_type string, value double"

    def drain():
        ev = spark.readStream.schema(ddl).format("parquet").load(in_dir)
        q = (
            stream_windowed_events(ev, window="1 hour", watermark="2 hours")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    t = lambda h, m=0: datetime(2025, 3, 1, h, m)  # noqa: E731
    b1 = [
        (t(1, 10), "purchase", 10.0),
        (t(1, 40), "purchase", 5.0),
        (t(2, 15), "view", 1.0),
        (t(9, 0), "view", 2.0),  # advances watermark to 07:00
    ]
    spark.createDataFrame(b1, ddl).write.mode("append").parquet(in_dir)
    drain()
    got1 = {
        (r.inicio.hour, r.event_type): r.eventos
        for r in spark.read.parquet(out_dir).collect()
    }
    # windows closed by the advanced watermark are emitted once
    assert got1[(1, "purchase")] == 2
    assert got1[(2, "view")] == 1

    # batch 2: two LATE purchase events for the already-closed 01:00
    # window (far below the 07:00 horizon) + one live event
    b2 = [
        (t(1, 20), "purchase", 99.0),
        (t(1, 50), "purchase", 99.0),
        (t(9, 30), "view", 3.0),
    ]
    spark.createDataFrame(b2, ddl).write.mode("append").parquet(in_dir)
    drain()
    rows = spark.read.parquet(out_dir).collect()
    purchase_1h = [
        r for r in rows if r.inicio.hour == 1 and r.event_type == "purchase"
    ]
    # the closed window appears exactly once, count still 2: late rows dropped
    assert len(purchase_1h) == 1
    assert purchase_1h[0].eventos == 2 and purchase_1h[0].total_valor == 15.0


def test_stream_clean_increment_decontamination(spark, tmp_path):
    """benchmark_path drops eval-overlapping docs per micro-batch BEFORE
    the quality stages: a doc embedding a benchmark 13-gram never reaches
    the corpus, clean docs still land."""
    from facturas_spark.streaming.stream import stream_clean_increment

    in_dir = tmp_path / "in"
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    in_dir.mkdir()

    base = (
        "the quick brown fox and the lazy dog of the farm run in a field "
        "of corn with a river and the old mill behind the hill"
    )
    bench_text = " ".join(f"eval{i}" for i in range(13))
    bench_path = str(tmp_path / "bench")
    spark.createDataFrame([(bench_text,)], "text string").write.parquet(bench_path)

    docs = [
        (0, "web", "en", f"{base} {bench_text}"),          # contaminated
        (1, "web", "en", f"{base} variant number one"),    # clean
    ]
    spark.createDataFrame(
        docs, "doc_id long, source string, lang string, text string"
    ).write.mode("append").parquet(str(in_dir))
    stream_clean_increment(
        spark, str(in_dir), corpus, ckpt, benchmark_path=bench_path
    )

    kept = {r.doc_id for r in spark.read.parquet(f"{corpus}/docs").collect()}
    assert kept == {1}


def test_stream_clean_increment_semantic_dedup(spark, tmp_path):
    """Streaming twin of the batch job's --semantic-dedup (round-5
    verdict directive 3), on the pinned reordered-words case: the
    word-reversed duplicate has ZERO 3-word-shingle overlap (MinHash
    keeps it) but ~0.89 hash-embedding cosine. Three properties:
    (1) CROSS-EPOCH: the reversal arriving a later epoch drops against
    the PERSISTED embedding-band index; (2) BATCH-INTERNAL: base + its
    reversal in one batch keep only the min doc_id (the batch kernel's
    rule); (3) EQUIVALENCE: the streamed corpus equals the batch
    per_doc_flags(semantic_tau=0.8) survivor set on the same docs."""
    from pyspark.sql import functions as F

    from facturas_spark.analytics.corpus_clean import per_doc_flags
    from facturas_spark.streaming.stream import stream_clean_increment

    base = (
        "the quick brown fox and the lazy dog of the farm run in a field "
        "of corn with a river and the old mill behind the hill"
    )
    rev = " ".join(reversed(base.split()))
    other = (
        "a completely different story about boats and the open sea with "
        "sails and the wind of the north and a calm blue harbor at dawn"
    )
    ddl = "doc_id long, source string, lang string, text string"

    # -- (1) cross-epoch: base+other seed the index; rev arrives later
    in_dir = tmp_path / "in"
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    in_dir.mkdir()
    spark.createDataFrame(
        [(0, "s0", "en", base), (2, "s1", "en", other)], ddl
    ).write.mode("append").parquet(str(in_dir))
    stream_clean_increment(spark, str(in_dir), corpus, ckpt, semantic_tau=0.8)
    assert {r.doc_id for r in spark.read.parquet(f"{corpus}/docs").collect()} == {0, 2}
    # the embedding index persisted alongside docs/fps/bands
    assert spark.read.parquet(f"{corpus}/embs").count() == 2
    assert spark.read.parquet(f"{corpus}/embbands").count() > 0

    spark.createDataFrame([(1, "s0", "en", rev)], ddl).write.mode(
        "append"
    ).parquet(str(in_dir))
    stream_clean_increment(spark, str(in_dir), corpus, ckpt, semantic_tau=0.8)
    kept = {r.doc_id for r in spark.read.parquet(f"{corpus}/docs").collect()}
    assert kept == {0, 2}, "reversal must drop against the persisted emb index"
    assert spark.read.parquet(f"{corpus}/embs").count() == 2

    # -- (2) batch-internal: base + rev in ONE epoch -> min doc_id wins
    in2 = tmp_path / "in2"
    corpus2 = str(tmp_path / "corpus2")
    in2.mkdir()
    spark.createDataFrame(
        [(0, "s0", "en", base), (1, "s0", "en", rev), (2, "s1", "en", other)],
        ddl,
    ).write.mode("append").parquet(str(in2))
    stream_clean_increment(
        spark, str(in2), corpus2, str(tmp_path / "ckpt2"), semantic_tau=0.8
    )
    kept2 = {r.doc_id for r in spark.read.parquet(f"{corpus2}/docs").collect()}

    # -- (3) equivalence with the batch job's flag chain
    docs = spark.createDataFrame(
        [(0, "s0", "en", base), (1, "s0", "en", rev), (2, "s1", "en", other)],
        ddl,
    )
    batch_kept = {
        r.doc_id
        for r in per_doc_flags(docs, semantic_tau=0.8)
        .filter(F.col("s6"))
        .select("doc_id")
        .collect()
    }
    assert kept2 == batch_kept == {0, 2}

    # off by default: no embedding index is written
    in3 = tmp_path / "in3"
    corpus3 = str(tmp_path / "corpus3")
    in3.mkdir()
    spark.createDataFrame([(7, "s0", "en", base)], ddl).write.mode(
        "append"
    ).parquet(str(in3))
    stream_clean_increment(spark, str(in3), corpus3, str(tmp_path / "ckpt3"))
    import os

    assert not os.path.exists(f"{corpus3}/embs")


def test_stream_clean_increment_crash_replay_ignores_partial_indexes(
    spark, tmp_path
):
    """Round-6 review: the epoch=N index directories are written BEFORE
    the ledger marker commits. A crash between the two leaves partial
    fps/bands (and embs/embbands) on disk; the replayed epoch must NOT
    read its own partial writes — or every batch doc self-matches and
    the epoch commits EMPTY (silent data loss). Simulated by planting
    an epoch-0 index layer with no ledger entry."""
    import os

    from facturas_spark.streaming.stream import stream_clean_increment

    base = (
        "the quick brown fox and the lazy dog of the farm run in a field "
        "of corn with a river and the old mill behind the hill"
    )
    ddl = "doc_id long, source string, lang string, text string"
    in_dir = tmp_path / "in"
    corpus = str(tmp_path / "corpus")
    in_dir.mkdir()
    other = (
        "a completely different story about boats and the open sea with "
        "sails and the wind of the north and a calm blue harbor at dawn"
    )
    docs = [(0, "s0", "en", base), (1, "s1", "en", other)]
    spark.createDataFrame(docs, ddl).write.mode("append").parquet(str(in_dir))

    # plant the poison: epoch-0's own fingerprints/bands/embs on disk,
    # exactly what a crash after the writes but before the ledger leaves
    from pyspark.sql import functions as F

    from facturas_spark.analytics.dedup import (
        _band_table,
        _emb_band_table,
        _shingle_table,
    )
    from facturas_spark.extraction.embed import embed_udf

    df = spark.createDataFrame(docs, ddl)
    df.select("doc_id", F.md5("text").alias("fp")).write.parquet(
        os.path.join(corpus, "fps", "epoch=0")
    )
    _band_table(_shingle_table(df.select("doc_id", "text"))).write.parquet(
        os.path.join(corpus, "bands", "epoch=0")
    )
    df.select("doc_id", "source", "text").write.parquet(
        os.path.join(corpus, "docs", "epoch=0")
    )
    emb = df.select("doc_id", embed_udf(F.col("text")).alias("embedding"))
    emb.write.parquet(os.path.join(corpus, "embs", "epoch=0"))
    _emb_band_table(emb, "doc_id").write.parquet(
        os.path.join(corpus, "embbands", "epoch=0")
    )
    # NO ledger entry for epoch 0 — the replay must treat it as void

    stream_clean_increment(
        spark, str(in_dir), corpus, str(tmp_path / "ckpt"), semantic_tau=0.8
    )
    kept = {r.doc_id for r in spark.read.parquet(f"{corpus}/docs").collect()}
    assert kept == {0, 1}, (
        "replayed epoch saw its own partial index and dropped everything"
    )
