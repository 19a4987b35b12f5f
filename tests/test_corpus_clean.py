"""Corpus-cleaning chain tests (analytics/corpus_clean.py)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from facturas_spark.analytics.corpus_clean import (
    PII_EMAIL,
    cleaned_corpus,
    clean_funnel,
    corpus_clean_stats,
    per_doc_flags,
    with_synth_pii,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def flags(spark):
    docs = with_synth_pii(spark.read.parquet(f"{SF}/documents.parquet"))
    return per_doc_flags(docs).localCheckpoint(eager=True)


def test_funnel_is_a_chain(flags):
    rows = {r.stage: r for r in clean_funnel(flags).collect()}
    order = [
        "0_nonempty", "1_langid", "2_gopher", "3_repetition", "4_pii_scrub",
        "5_dedup_exact", "6_dedup_near", "7_source_quota", "8_packing",
    ]
    assert set(rows) == set(order)
    for name in order:
        r = rows[name]
        assert 0 <= r.docs_out <= r.docs_in
        assert r.dropped == r.docs_in - r.docs_out
    # consecutive stages hand off exactly
    for a, b in zip(order, order[1:]):
        assert rows[b].docs_in == rows[a].docs_out
    # scrub and packing never drop
    assert rows["4_pii_scrub"].dropped == 0
    assert rows["8_packing"].dropped == 0
    # injected PII produced redactions; the near-dup stage found
    # clusters; packing produced packs
    assert rows["4_pii_scrub"].metric > 0
    assert rows["6_dedup_near"].dropped > 0
    assert rows["8_packing"].metric >= 1


def test_cleaned_corpus_consistency(flags):
    clean = cleaned_corpus(flags).collect()
    funnel = {r.stage: r for r in clean_funnel(flags).collect()}
    assert len(clean) == funnel["8_packing"].docs_out
    email_rx = re.compile(PII_EMAIL)
    for r in clean:
        assert not email_rx.search(r.text), "scrub must remove email shapes"
        assert r.tokens >= 1 and r.pack_id >= 0


def test_quota_and_flags_internal_consistency(flags):
    # survival flags are cumulative: s_{k+1} implies s_k
    bad = flags.filter(
        (F.col("s1") & ~F.col("s0"))
        | (F.col("s2") & ~F.col("s1"))
        | (F.col("s3") & ~F.col("s2"))
        | (F.col("s5") & ~F.col("s3"))
        | (F.col("s6") & ~F.col("s5"))
        | (F.col("s7") & ~F.col("s6"))
    ).count()
    assert bad == 0
    # source quota respected among final survivors
    per_src = (
        flags.filter("s7").groupBy("source").count().agg(F.max("count")).first()[0]
    )
    assert per_src <= 15


def test_stats_query_runs(spark):
    rows = corpus_clean_stats(spark, SF).collect()
    assert [r.stage for r in rows] == sorted(r.stage for r in rows)
    assert len(rows) == 9


def test_clean_job_stage_resume(spark, tmp_path):
    """The spark-submit job's stage-granular resume: first run computes
    all three stages; a full rerun skips everything; deleting one stage
    marker recomputes exactly that stage from the materialized flags."""
    import json

    from facturas_spark.jobs.clean_corpus import main

    out = str(tmp_path / "cleanjob")
    docs = str(tmp_path / "docs")
    spark.read.parquet(f"{SF}/documents.parquet").write.parquet(docs)

    import contextlib
    import io as _io

    def run():
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            assert main(["--input", docs, "--output", out, "--synth-pii"]) == 0
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    r1 = run()
    assert set(r1["stages"]) == {"flags", "clean", "stats"}
    funnel1 = r1["stages"]["stats"]["funnel"]
    assert [f["stage"] for f in funnel1][0] == "0_nonempty"

    r2 = run()
    assert r2["stages"] == {} and set(r2["skipped"]) == {"flags", "clean", "stats"}

    (tmp_path / "cleanjob" / "_manifest" / "stage=stats.json").unlink()
    r3 = run()
    assert set(r3["stages"]) == {"stats"}
    assert r3["stages"]["stats"]["funnel"] == funnel1  # derived from flags parquet


def test_clean_job_refuses_other_arguments(spark, tmp_path):
    """A rerun must not resume from flags other arguments made: the first
    run pins the flag-deciding arguments, a rerun with another --quota-k
    exits 2 naming it, and a manifest with stage markers but no pinned
    arguments is refused too. --cores is not pinned."""
    import contextlib
    import io as _io

    from facturas_spark.jobs.clean_corpus import main

    docs = str(tmp_path / "docs")
    spark.read.parquet(f"{SF}/documents.parquet").write.parquet(docs)
    out = tmp_path / "out"
    argv = ["--input", docs, "--output", str(out), "--synth-pii"]

    def run(*extra):
        err = _io.StringIO()
        with contextlib.redirect_stdout(_io.StringIO()), contextlib.redirect_stderr(err):
            rc = main(argv + list(extra))
        return rc, err.getvalue()

    assert run("--quota-k", "15")[0] == 0
    manifest = out / "_manifest"
    for stage in ("clean", "stats"):
        (manifest / f"stage={stage}.json").unlink()
    rc, err = run("--quota-k", "3")
    assert rc == 2 and "--quota-k 15 (now 3)" in err
    assert not (manifest / "stage=clean.json").exists()

    assert run("--quota-k", "15", "--cores", "2")[0] == 0
    assert (manifest / "stage=stats.json").exists()

    (manifest / "args.json").unlink()
    rc, err = run("--quota-k", "15")
    assert rc == 2 and "no pinned arguments" in err


def test_clean_job_iceberg_failure_leaves_stage_open(spark, tmp_path, monkeypatch):
    """A failing --iceberg-table write must not leave the clean stage
    committed: its marker is written after the Iceberg copy, so a rerun
    redoes the stage and retries the table write."""
    import contextlib
    import io as _io
    import json

    from facturas_spark.jobs.clean_corpus import main
    from facturas_spark.sources import iceberg

    docs_path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "the quick brown fox and the lazy dog", "en", "s0", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(docs_path)
    out = tmp_path / "out"
    argv = ["--input", docs_path, "--output", str(out),
            "--iceberg-table", "lake.db.clean"]
    monkeypatch.setattr(iceberg, "iceberg_available", lambda spark, cat: True)
    written = []
    frame_cls = type(spark.range(1))

    class _Writer:
        def __init__(self, table, fail):
            self.table, self.fail = table, fail

        def createOrReplace(self):
            if self.fail:
                raise RuntimeError("iceberg write failed")
            written.append(self.table)

    monkeypatch.setattr(frame_cls, "writeTo", lambda df, t: _Writer(t, True))
    with contextlib.redirect_stdout(_io.StringIO()):
        with pytest.raises(RuntimeError, match="iceberg write failed"):
            main(argv)
    markers = sorted(p.name for p in (out / "_manifest").iterdir())
    assert "stage=flags.json" in markers
    assert "stage=clean.json" not in markers

    monkeypatch.setattr(frame_cls, "writeTo", lambda df, t: _Writer(t, False))
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main(argv) == 0
    r = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert r["skipped"] == ["flags"]
    assert r["stages"]["clean"]["iceberg_table"] == "lake.db.clean"
    assert written == ["lake.db.clean"]
    assert (out / "_manifest" / "stage=clean.json").exists()


def test_clean_job_frees_its_scratch(spark, tmp_path):
    """Two clean-job runs in one session leave no persistent RDD and no
    loose-ledger entry behind: every frame the flag stage persists or
    checkpoints (stage joints, the verified-pair and component-round
    checkpoints) belongs to the job's scratch scope."""
    import contextlib
    import io as _io

    from facturas_spark.analytics import cache
    from facturas_spark.jobs.clean_corpus import main

    docs = str(tmp_path / "docs")
    spark.read.parquet(f"{SF}/documents.parquet").write.parquet(docs)

    def alive():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(i) for i in jmap.keySet().toArray()}

    before, loose_ids = alive(), list(cache._LOOSE_IDS)
    loose_frames = len(cache._LOOSE_FRAMES)
    for run in range(2):
        out = str(tmp_path / f"out{run}")
        with contextlib.redirect_stdout(_io.StringIO()):
            assert main(["--input", docs, "--output", out, "--synth-pii"]) == 0
        # <=: the context cleaner may collect an older test's frames
        assert alive() <= before, sorted(alive() - before)
        assert cache._LOOSE_IDS == loose_ids
        assert len(cache._LOOSE_FRAMES) == loose_frames


def _global_window_packs(flags, budget: int) -> dict:
    """The reference packing: one running sum over every survivor in
    doc_id order (a single-partition window)."""
    from pyspark.sql.window import Window

    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    ref = flags.filter("s7").select(
        "doc_id",
        F.floor((F.sum("tokens").over(w) - F.col("tokens")) / budget)
        .cast("bigint")
        .alias("pack_id"),
    )
    return {r.doc_id: r.pack_id for r in ref.collect()}


def _packs(flags) -> dict:
    return {r.doc_id: r.pack_id for r in flags.filter("s7").collect()}


def _doc(i: int, n_words: int) -> str:
    # distinct words (no exact or near duplicate, no repeated n-gram) with
    # enough stopwords for the gopher rule
    return " ".join(
        ("the", "of", "and", "in")[j % 4] if j % 3 == 0 else f"w{i}x{j}"
        for j in range(n_words)
    )


def test_packing_matches_global_window(spark, flags):
    """Stage 8's sharded running sum gives every survivor the pack id of
    the global doc_id-ordered window: on the sf0.001 corpus, and on sparse,
    clustered doc_ids whose packs straddle shard boundaries, a single
    survivor and no survivor."""
    assert flags.columns == [
        "doc_id", "source", "s0", "s1", "s2", "s3", "n_red", "s5", "s6",
        "sem_drop", "s7", "scrubbed", "tokens", "pack_id",
    ]
    assert flags.filter("s7").count() > 0
    assert _packs(flags) == _global_window_packs(flags, 512)

    ids = (
        [-7, -6, *range(12), *range(10**6, 10**6 + 12)]
        + [10**9 + 7 * k for k in range(6)]
    )
    rows = [(d, f"s{k % 3}", "en", _doc(k, 12 + (k * 7) % 13)) for k, d in enumerate(ids)]
    schema = "doc_id long, source string, lang string, text string"
    sparse = per_doc_flags(
        spark.createDataFrame(rows, schema), quota_k=100, pack_budget=40
    ).localCheckpoint(eager=True)
    got = _packs(sparse)
    assert sorted(got) == ids  # every doc survives
    assert got == _global_window_packs(sparse, 40)
    # the case the offsets exist for: a pack holding docs of two shards
    n = spark.sparkContext.defaultParallelism
    width = -(-(max(ids) - min(ids) + 1) // n)
    shards: dict = {}
    for d, p in got.items():
        shards.setdefault(p, set()).add((d - min(ids)) // width)
    assert any(len(s) > 1 for s in shards.values())

    one = per_doc_flags(
        spark.createDataFrame([(5, "s0", "en", _doc(0, 20))], schema)
    ).collect()
    assert [(r.doc_id, r.s7, r.pack_id) for r in one] == [(5, True, 0)]

    none = per_doc_flags(
        spark.createDataFrame([(1, "s0", "en", ""), (2, "s0", "en", "x")], schema)
    ).collect()
    assert [(r.s7, r.pack_id) for r in none] == [(False, None)] * 2


def test_clean_job_decontamination(spark, tmp_path):
    """--benchmark drops docs sharing a 13-gram with the eval set BEFORE
    the quality chain: the flag frame shrinks by exactly the contaminated
    docs and reports the count in the manifest entry."""
    import contextlib
    import io as _io
    import json

    from facturas_spark.jobs.clean_corpus import main

    bench_text = " ".join(f"eval{i}" for i in range(13))
    filler = " ".join(
        "the be to of and that have with a in word%d" % i for i in range(4)
    )
    docs = [
        (0, filler + " " + bench_text, "en", "s0", 0),   # contaminated
        (1, filler + " clean tail words", "en", "s0", 0),
        (2, filler + " other clean words", "en", "s1", 0),
    ]
    docs_path = str(tmp_path / "docs")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(docs_path)
    bench_path = str(tmp_path / "bench")
    spark.createDataFrame(
        [(bench_text,)], "text string"
    ).write.parquet(bench_path)

    out = str(tmp_path / "out")
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert (
            main(
                [
                    "--input", docs_path,
                    "--output", out,
                    "--benchmark", bench_path,
                ]
            )
            == 0
        )
    r = json.loads(buf.getvalue().strip().splitlines()[-1])
    flags_meta = dict(r["stages"]["flags"])
    assert flags_meta.pop("sec") >= 0  # per-stage wall (round 6)
    assert flags_meta == {"rows": 2, "decontaminated": 1}
    clean_ids = {
        row["doc_id"]
        for row in spark.read.parquet(f"{out}/clean").select("doc_id").collect()
    }
    assert 0 not in clean_ids


def test_semantic_dedup_catches_reordering_minhash_misses(spark, tmp_path):
    """Word-reversed text has ZERO 3-word-shingle overlap (MinHash keeps
    both) but ~0.89 hash-embedding cosine — the SemDeDup stage drops the
    later doc; an unrelated doc survives. Off by default: sem_drop is
    all-false and s6 unchanged."""
    from pyspark.sql import functions as F

    from facturas_spark.analytics.corpus_clean import per_doc_flags

    base = (
        "the quick brown fox and the lazy dog of the farm run in a field "
        "of corn with a river and the old mill behind the hill"
    )
    rev = " ".join(reversed(base.split()))
    other = (
        "a completely different story about boats and the open sea with "
        "sails and the wind of the north and a calm blue harbor at dawn"
    )
    docs = spark.createDataFrame(
        [(0, "s0", "en", base), (1, "s0", "en", rev), (2, "s1", "en", other)],
        "doc_id long, source string, lang string, text string",
    )

    off = {r["doc_id"]: r for r in per_doc_flags(docs).collect()}
    assert all(not r["sem_drop"] for r in off.values())
    assert off[0]["s6"] and off[1]["s6"] and off[2]["s6"]  # MinHash keeps all

    on = {r["doc_id"]: r for r in per_doc_flags(docs, semantic_tau=0.8).collect()}
    assert on[1]["sem_drop"] and not on[1]["s6"]
    assert not on[0]["sem_drop"] and on[0]["s6"]
    assert not on[2]["sem_drop"] and on[2]["s6"]


def test_clean_job_semantic_dedup_flag(spark, tmp_path):
    """--semantic-dedup TAU reports the dropped count and shrinks the
    cleaned corpus."""
    import contextlib
    import io as _io
    import json

    from facturas_spark.jobs.clean_corpus import main

    base = (
        "the quick brown fox and the lazy dog of the farm run in a field "
        "of corn with a river and the old mill behind the hill"
    )
    rev = " ".join(reversed(base.split()))
    docs_path = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (0, base, "en", "s0", 0),
            (1, rev, "en", "s0", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(docs_path)

    out = str(tmp_path / "out")
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main(["--input", docs_path, "--output", out,
                     "--semantic-dedup", "0.8"]) == 0
    r = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert r["stages"]["flags"]["semantic_dropped"] == 1
    assert r["stages"]["clean"]["rows"] == 1


def test_decontamination_finds_planted_contamination(spark):
    """A benchmark slice cut from the corpus contaminates the rest of it:
    contaminated_ids finds the training docs sharing a 13-gram with it."""
    from facturas_spark.analytics.corpus_clean import contaminated_ids

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    bench = docs.filter("doc_id % 23 = 0").select("text")
    train = docs.filter("doc_id % 23 <> 0")
    ids = {r.doc_id for r in contaminated_ids(train, bench).collect()}
    assert len(ids) > 0  # the slice genuinely contaminates (4 docs)


def test_quota_two_phase_exact_equivalence(spark):
    """The salted two-phase quota picks the IDENTICAL keep set as the
    single-window form on a planted Zipf-hot corpus (60% of rows on one
    source, several boundary sources at exactly/below/above k)."""
    from facturas_spark.analytics.corpus_clean import quota_keep_ids

    k = 7
    rows = []
    # hot source: 600 rows; mid: 40; boundary: exactly k; under: k-2;
    # singleton; null-ish name source
    for i in range(600):
        rows.append((i, "hot.example"))
    for i in range(600, 640):
        rows.append((i, "mid.example"))
    for i in range(640, 640 + k):
        rows.append((i, "exact.example"))
    for i in range(700, 700 + k - 2):
        rows.append((i, "under.example"))
    rows.append((800, "single.example"))
    df = spark.createDataFrame(rows, "doc_id long, source string").repartition(8)

    one = quota_keep_ids(df, k, salts=None).collect()
    two = quota_keep_ids(df, k, salts=5).collect()
    # two-phase contract: kept rows only, all True; identical keep SET
    assert all(r.quota_keep for r in two)
    assert {r.doc_id for r in one if r.quota_keep} == {r.doc_id for r in two}
    kept = {r.doc_id for r in two}
    # every cold source keeps everything; hot/mid keep exactly k
    assert sum(1 for d in kept if d < 600) == k
    assert sum(1 for d in kept if 600 <= d < 640) == k
    assert sum(1 for d in kept if 640 <= d < 640 + k) == k
    assert sum(1 for d in kept if 700 <= d < 700 + k - 2) == k - 2
    assert 800 in kept
    # single-phase output still covers every input row exactly once
    assert len(one) == len(rows)


def test_quota_two_phase_plan_shape(spark):
    """Phase 1 must window over (source, salt) — the skew spread — and
    the chain must stay equi-join only (the keep flag re-joins on the
    uniform doc_id key)."""
    from facturas_spark.analytics.corpus_clean import quota_keep_ids

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source"
    )
    df = quota_keep_ids(docs, 8, salts=4)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "extended"
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # phase-1 window partition keys include the salt
    assert any(
        "_salt" in line and "source" in line
        for line in plan.splitlines()
        if "Window" in line or "windowspecdefinition" in line.lower()
    ), plan


def test_resolve_quota_salts_auto(spark, monkeypatch):
    """The quota-form decision: single-phase below QUOTA_SALT_TARGET,
    salted above it with the salt count scaling to bound phase-1 tasks
    near the target, floored at 16 and capped at 1024."""
    import facturas_spark.analytics.corpus_clean as cc

    surv = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 3).cast("string")).alias("source"),
    )
    # 100 rows/source at the real 200k threshold: single-phase
    assert cc.resolve_quota_salts(surv, 15) is None
    # so is the test corpus, so per_doc_flags runs single-phase on it
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert cc.resolve_quota_salts(docs.select("doc_id", "source"), 15) is None
    # shrink the threshold so the same frame counts as hot
    monkeypatch.setattr(cc, "QUOTA_SALT_TARGET", 50)
    assert cc.resolve_quota_salts(surv, 15) == 16  # ceil(100/50)=2 -> floor 16
    monkeypatch.setattr(cc, "QUOTA_SALT_TARGET", 2)
    assert cc.resolve_quota_salts(surv, 15) == 50  # ceil(100/2)=50 in [16,1024]


def test_per_doc_flags_auto_salted_same_decisions(spark, monkeypatch):
    """Force the auto mode down the salted branch (tiny threshold) and
    pin that the whole chain's s7 decisions equal the single-phase
    chain's — the end-to-end form of the keep-set-equality property,
    through resolve_quota_salts and the broadcast join-back."""
    import facturas_spark.analytics.corpus_clean as cc

    docs = with_synth_pii(spark.read.parquet(f"{SF}/documents.parquet"))
    # the quota stage sees a subset of these docs, so the default chain
    # resolves single-phase at test scale: it is the baseline
    assert cc.resolve_quota_salts(docs.select("doc_id", "source"), cc.QUOTA_K) is None
    single = {
        r.doc_id: r.s7
        for r in per_doc_flags(docs).select("doc_id", "s7").collect()
    }
    monkeypatch.setattr(cc, "QUOTA_SALT_TARGET", 5)
    auto_salted = per_doc_flags(docs)  # resolves salted past 5 survivors
    got = {
        r.doc_id: r.s7
        for r in auto_salted.select("doc_id", "s7").collect()
    }
    assert got == single
