"""The benchmark's workloads.

Each workload is one client in a closed loop: it runs a *pass* (a fixed
sequence of calls into ``facturas_spark``), waits for every result, then
starts the next pass.  Each class below supplies

- ``prepare``: seeded inputs and any materialization kept out of timing;
- ``ops``: the pass, as :class:`Op` values (untimed ``prep``, timed ``run``);
- ``check``: output checks, run after the measured region;
- ``layers``: per-layer figures for the traced run, from extra calls into
  lower-level public functions of the layers the pass goes through.

A workload times one of them; its *probe*, another, runs only in the
traced run (see ``WORKLOADS``).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass
from typing import Any, Callable

import inputs
from inputs import AS_OF
from stats import tail_percentile

# input sizes; see BENCHMARK.json for why each workload exists
INGEST_PAGES = 1600
INGEST_BUCKETS = 16
RESUME_EVERY = 4  # the resume drops the manifest entries of buckets b % 4 == 0
RECONCILE_PAGES = 240
# the repository's sf0.01 reference tables (TESTDATA.md: seed 42, 60k line
# items), copied byte for byte so that the run reads nothing outside its
# checkout
DASH_TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
CLEAN_DOCS = 1000

# ten of the 26-query dashboard / NL-SQL / escandallos mix: reads, an
# NL-SQL template, a MERGE-shaped upsert, master data and the hybrid search
# that fills the session cache; the whole mix with its repeated warm passes
# does not fit the run budget (see README.md)
DASHBOARD_MIX = [
    "q01_daily_sales", "q02_top_products", "q07_category_share",
    "q13_rolling_price_stats", "q14_top_proveedores", "v_productos_top",
    "esc_food_cost_platos", "numier_upsert_ventas", "master_products",
    "q15_hybrid_textual",
]


@dataclass
class Ctx:
    spark: Any
    cores: int
    seed: int
    work_dir: str
    tracer: Any


@dataclass
class Op:
    name: str
    run: Callable[[], Any]
    prep: Callable[[], None] | None = None


def _timed(fn: Callable[[], Any]) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _us_per(fn: Callable[[Any], Any], items: list) -> float:
    t0 = time.perf_counter()
    for x in items:
        fn(x)
    return (time.perf_counter() - t0) / max(1, len(items)) * 1e6


def _noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_op(passes: list[dict], name: str) -> float:
    return statistics.median(p[name]["s"] for p in passes if name in p)


# ---------------------------------------------------------------- ingest --
class Ingest:
    """Fresh extraction job, then a resume after a simulated crash."""

    name = "ingest"

    def prepare(self, ctx: Ctx) -> None:
        d = inputs.cached(ctx.work_dir, self.name, ctx.seed, INGEST_PAGES, inputs.build_pages)
        self.pages_path = os.path.join(d, "pages.parquet")
        self.pages = ctx.spark.read.parquet(self.pages_path)
        self.golden = inputs.golden_headers(d, ctx.seed)
        self.out = os.path.join(ctx.work_dir, "ingest-out")

    def _manifest(self):
        from facturas_spark.sources.io import LineageManifest

        return LineageManifest(os.path.join(self.out, "_manifest"))

    def _digests(self) -> dict[int, str]:
        return {b: e["digest"] for b, e in self._manifest().committed().items()}

    def ops(self, ctx: Ctx) -> list[Op]:
        from facturas_spark.sources.io import run_with_resume

        def run():
            return run_with_resume(ctx.spark, self.pages, self.out, n_buckets=INGEST_BUCKETS)

        def crash():
            self.fresh_digests = self._digests()
            mdir = os.path.join(self.out, "_manifest")
            for b in range(0, INGEST_BUCKETS, RESUME_EVERY):
                for name in (f"bucket={b}.json", f".bucket={b}.json.crc"):
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(os.path.join(mdir, name))

        return [
            Op("fresh", run, prep=lambda: shutil.rmtree(self.out, ignore_errors=True)),
            Op("resume", run, prep=crash),
        ]

    def check(self, ctx: Ctx, passes: list[dict]) -> dict[tuple[int, str], str]:
        from pyspark.sql import functions as F

        bad: dict[tuple[int, str], str] = {}
        dropped = list(range(0, INGEST_BUCKETS, RESUME_EVERY))
        for k, p in enumerate(passes):
            fresh, resume = p["fresh"]["out"], p["resume"]["out"]
            if fresh["rows"] != INGEST_PAGES or fresh["skipped"]:
                bad[(k, "fresh")] = f"fresh run wrote {fresh['rows']} rows, skipped {fresh['skipped']}"
            if resume["processed"] != dropped or len(resume["skipped"]) != INGEST_BUCKETS - len(dropped):
                bad[(k, "resume")] = f"resume processed {resume['processed']}"
        # the last pass's output on disk: manifest and rows
        last = len(passes) - 1
        if self._digests() != self.fresh_digests:
            bad[(last, "resume")] = "manifest digests after resume differ from the fresh run"
        cols = [
            "url", "tipo_documento", "proveedor_nombre", "proveedor_cif", "numero_factura",
            "fecha_factura", "total_factura", "base_imponible", "cuota_iva", "tipo_iva",
        ]
        rows = (
            ctx.spark.read.parquet(os.path.join(self.out, "extracted"))
            .select(*cols[:-1], F.when(F.col("tipo_documento") == "factura", F.col("tipo_iva")).alias("tipo_iva"))
            .collect()
        )
        got = {r[0]: tuple(r[1:]) for r in rows}
        if len(rows) != INGEST_PAGES or got != self.golden:
            wrong = sum(1 for u, v in self.golden.items() if got.get(u) != v)
            bad[(last, "fresh")] = f"{len(rows)} rows written, {wrong} differ from the golden values"
        return bad

    def layers(self, ctx: Ctx, passes: list[dict]) -> dict:
        import pandas as pd
        import pyarrow.parquet as pq

        from facturas_spark.extraction.boilerplate import extract_main_text
        from facturas_spark.extraction.products import extract_products
        from facturas_spark.extraction.textparse import classify_document, extract_fields
        from facturas_spark.extraction.udf import extract_batch, extract_batch_header
        from facturas_spark.pipeline import extract_pages_full, with_salt_bucket
        from facturas_spark.sources.io import LineageManifest

        tr = ctx.tracer
        sample = pq.read_table(self.pages_path).to_pydict()
        html, text = sample["html"], sample["text"]
        html_only = [h for h, t in zip(html, text) if not t]
        texts = [t if t else extract_main_text(h) for h, t in zip(html, text)]
        fields = [extract_fields(t) for t in texts]
        out: dict[str, float] = {}
        with tr.span("extraction.boilerplate"):
            out["extraction.boilerplate.us_per_doc"] = _us_per(extract_main_text, html_only)
        with tr.span("extraction.textparse"):
            out["extraction.textparse.classify_us_per_doc"] = _us_per(classify_document, texts)
            out["extraction.textparse.fields_us_per_doc"] = _us_per(extract_fields, texts)
        with tr.span("extraction.products"):
            out["extraction.products.us_per_doc"] = _us_per(
                lambda tf: extract_products(tf[0], tf[1].tipo_iva), list(zip(texts, fields))
            )
        hs, ts = pd.Series(html), pd.Series(text)
        with tr.span("extraction.udf"):
            full_s = _timed(lambda: extract_batch(hs, ts))
            head_s = _timed(lambda: extract_batch_header(hs, ts))
        out["extraction.udf.kernel_docs_per_s"] = len(html) / full_s
        out["extraction.udf.header_kernel_docs_per_s"] = len(html) / head_s
        out["extraction.udf.products_share"] = 1.0 - head_s / full_s
        with tr.span("pipeline.extract_pages_full"):
            extract_s = _timed(lambda: _noop_sink(extract_pages_full(self.pages)))
        out["pipeline.extract_s"] = extract_s
        ideal = INGEST_PAGES / (ctx.cores * out["extraction.udf.kernel_docs_per_s"])
        out["pipeline.framework_share"] = 1.0 - ideal / extract_s
        fresh_s = _median_op(passes[1:], "fresh")
        out["ingest.docs_per_s"] = INGEST_PAGES / fresh_s
        out["ingest.resume_s"] = _median_op(passes[1:], "resume")
        out["sources.io.run_with_resume_s"] = fresh_s
        out["sources.io.write_share"] = 1.0 - extract_s / fresh_s
        out["sources.io.manifest_commits"] = len(self._manifest().committed())
        probe = LineageManifest(os.path.join(ctx.work_dir, "manifest-probe"))
        with tr.span("sources.io.manifest_commit"):
            commit_s = _timed(lambda: [probe.commit(b, 1, "0" * 32) for b in range(INGEST_BUCKETS)])
        shutil.rmtree(os.path.join(ctx.work_dir, "manifest-probe"), ignore_errors=True)
        out["sources.io.manifest_commit_ms"] = commit_s / INGEST_BUCKETS * 1000.0
        files = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(os.path.join(self.out, "extracted"))
            for f in fs
            if f.endswith(".parquet")
        ]
        out["sources.io.files_written"] = len(files)
        out["sources.io.bytes_per_doc"] = sum(os.path.getsize(f) for f in files) / INGEST_PAGES
        resumed = passes[-1]["resume"]["out"]["rows"]
        buckets = with_salt_bucket(self.pages.select("url"), n_buckets=INGEST_BUCKETS).collect()
        pending = sum(1 for r in buckets if r.bucket % RESUME_EVERY == 0)
        out["sources.io.resume_useful_share"] = pending / resumed if resumed else 0.0
        return out


# ------------------------------------------------------------- reconcile --
class Reconcile:
    """Invoice <-> delivery-note matching in both directions."""

    name = "reconcile"

    def prepare(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        from facturas_spark.pipeline import extract_pages_full, extract_products_table

        d = inputs.cached(ctx.work_dir, self.name, ctx.seed, RECONCILE_PAGES, inputs.build_pages)
        pages = ctx.spark.read.parquet(os.path.join(d, "pages.parquet"))
        ext = extract_pages_full(pages).persist()
        prods = (
            extract_products_table(ext)
            .groupBy("url")
            .agg(F.collect_list("descripcion_original").alias("productos"))
        )
        docs = (
            ext.drop("productos")
            .join(prods, "url", "left")
            .withColumn("productos", F.coalesce("productos", F.array()))
            .persist()
        )
        docs.count()
        ext.unpersist()
        fac = docs.filter(F.col("tipo_documento") == "factura")
        alb = docs.filter(F.col("tipo_documento") == "albaran")
        self.fwd_in = (
            fac.select(F.col("url").alias("factura_id"), "proveedor_nombre", "fecha_factura", "total_factura", "productos"),
            alb.select(
                F.col("url").alias("albaran_id"),
                F.col("numero_factura").alias("numero_albaran"),
                "proveedor_nombre",
                F.col("fecha_factura").alias("fecha_albaran"),
                F.col("total_factura").alias("total_albaran"),
                "productos",
            ),
        )
        self.inv_in = (
            alb.select(
                F.col("url").alias("albaran_id"),
                "proveedor_nombre",
                F.col("fecha_factura").alias("fecha_albaran"),
                F.col("total_factura").alias("total_albaran"),
                "productos",
            ),
            fac.select(
                F.col("url").alias("factura_id"), "proveedor_nombre", "fecha_factura",
                "total_factura", "numero_factura", "productos",
            ),
        )
        self.ids = {
            "factura_id": {r[0] for r in fac.select("url").collect()},
            "albaran_id": {r[0] for r in alb.select("url").collect()},
        }
        self.suppliers = {
            kind: {r[0]: r[1] for r in frame.groupBy("proveedor_nombre").count().collect()}
            for kind, frame in (("factura", fac), ("albaran", alb))
        }

    def ops(self, ctx: Ctx) -> list[Op]:
        from facturas_spark.matching.cotejo import run_cotejo, run_cotejo_inverso

        cols = ["factura_id", "albaran_id", "score", "metodo", "categoria_enlace"]
        return [
            Op("fwd", lambda: run_cotejo(*self.fwd_in, as_of=AS_OF).select(*cols).collect()),
            Op("inv", lambda: run_cotejo_inverso(*self.inv_in, as_of=AS_OF).select(*cols).collect()),
        ]

    @staticmethod
    def _category(score: float) -> str:
        if score >= 0.95:
            return "enlace_automatico"
        if score >= 0.7:
            return "sugerencia"
        return "revision_manual"

    def _problem(self, rows: list) -> str | None:
        pairs = [(r[0], r[1]) for r in rows]
        if len(set(pairs)) != len(pairs):
            return "duplicate (factura, albaran) pairs"
        for f, a, score, _, cat in rows:
            if not 0.0 <= score <= 1.0:
                return f"score {score} outside [0, 1]"
            if cat != self._category(score):
                return f"category {cat} for score {score}"
            if f not in self.ids["factura_id"] or a not in self.ids["albaran_id"]:
                return f"unknown id in pair ({f}, {a})"
        return None

    def check(self, ctx: Ctx, passes: list[dict]) -> dict[tuple[int, str], str]:
        from collections import Counter

        bad: dict[tuple[int, str], str] = {}
        first: dict[str, Counter] = {}
        for k, p in enumerate(passes):
            for name in ("fwd", "inv"):
                rows = p[name]["out"]
                problem = self._problem(rows)
                counts = Counter((r[3], r[4]) for r in rows)
                first.setdefault(name, counts)
                if problem is None and counts != first[name]:
                    problem = "per-(metodo, categoria) counts changed between passes"
                if problem:
                    bad[(k, name)] = problem
        return bad

    def layers(self, ctx: Ctx, passes: list[dict]) -> dict:
        from pyspark.sql import functions as F

        from facturas_spark.matching.cotejo import (
            categorize,
            consolidate,
            cotejo_candidates,
            cotejo_candidates_inverso,
        )

        tr = ctx.tracer
        same = sum(n * self.suppliers["albaran"].get(s, 0) for s, n in self.suppliers["factura"].items())
        out: dict[str, float] = {}
        sides = (
            ("fwd", lambda: cotejo_candidates(*self.fwd_in, as_of=AS_OF), self.fwd_in[0], "factura_id"),
            ("inv", lambda: cotejo_candidates_inverso(*self.inv_in, as_of=AS_OF), self.inv_in[0], "albaran_id"),
        )
        for side, cands_of, anchor, key in sides:
            with tr.span(f"matching.{side}.candidates"):
                out[f"matching.{side}.candidates_s"] = _timed(lambda: _noop_sink(cands_of()))
            cands = cands_of().persist()
            kept = {r[0]: r[1] for r in cands.groupBy("metodo_prio").count().collect()}
            with tr.span(f"matching.{side}.consolidate"):
                out[f"matching.{side}.consolidate_s"] = _timed(
                    lambda: categorize(consolidate(cands, anchor.select(key, "productos"), bonus_key=key))
                    .agg(F.count("*"))
                    .collect()
                )
            cands.unpersist()
            out[f"matching.{side}.pairs_same_supplier"] = same
            for m in range(1, 6):
                out[f"matching.{side}.m{m}_kept"] = kept.get(m, 0)
            out[f"matching.{side}.kept_per_attempt"] = sum(kept.values()) / same if same else 0.0
        out["matching.links"] = len(passes[-1]["fwd"]["out"]) + len(passes[-1]["inv"]["out"])
        out["reconcile.fwd_s"] = _median_op(passes[1:], "fwd")
        out["reconcile.inv_s"] = _median_op(passes[1:], "inv")
        return out


# ------------------------------------------------------------- dashboard --
class Dashboard:
    """One dashboard user issuing the dashboard / NL-SQL / escandallos mix."""

    name = "dashboard"

    def prepare(self, ctx: Ctx) -> None:
        import duckdb

        import __spark_entry__ as entry
        from facturas_spark.analytics.cache import release_session_cache
        from tools.verify_local import TABLES

        self.sf = DASH_TABLES
        # the tables are fixed; the seed chooses the order of the queries
        self.order = list(DASHBOARD_MIX)
        random.Random(ctx.seed).shuffle(self.order)
        registry = entry.queries()
        self.queries = {q: registry[q] for q in DASHBOARD_MIX}
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')")
            self.expected = {}
            for q in DASHBOARD_MIX:
                res = con.execute(oracles[q])
                cols = [c[0] for c in res.description]
                self.expected[q] = (sorted(cols), normalize(res.fetchall(), cols))
        finally:
            con.close()
        release_session_cache(ctx.spark)

    def ops(self, ctx: Ctx) -> list[Op]:
        from facturas_spark.analytics import cache

        def query(q: str):
            def run():
                entries = len(cache._CACHE)
                with ctx.tracer.span("analytics.plan", query=q):
                    df = self.queries[q](ctx.spark, self.sf)
                with ctx.tracer.span("analytics.exec", query=q):
                    rows = df.collect()
                return df.columns, rows, len(cache._CACHE) > entries

            return run

        return [Op(q, query(q)) for q in self.order]

    def check(self, ctx: Ctx, passes: list[dict]) -> dict[tuple[int, str], str]:
        bad = {}
        for k, p in enumerate(passes):
            for q in DASHBOARD_MIX:
                cols, rows, _ = p[q]["out"]
                if (sorted(cols), normalize(rows, cols)) != self.expected[q]:
                    bad[(k, q)] = "result differs from the DuckDB twin"
        return bad

    def layers(self, ctx: Ctx, passes: list[dict]) -> dict:
        from facturas_spark.analytics import cache

        warm = passes[1:] or passes
        out: dict[str, float] = {}
        build = 0.0
        for q in DASHBOARD_MIX:
            p50 = statistics.median(p[q]["s"] for p in warm)
            out[f"analytics.{q}.p50_ms"] = p50 * 1000.0
            if passes[0][q]["out"][2]:
                build += passes[0][q]["s"] - p50
        latencies = [p[q]["s"] for p in warm for q in DASHBOARD_MIX]
        pct, tail = tail_percentile(latencies)
        out["dashboard.p50_ms"] = statistics.median(latencies) * 1000.0
        out["dashboard.tail_pct"] = pct
        out["dashboard.tail_ms"] = tail * 1000.0
        out["dashboard.samples"] = len(latencies)
        out["dashboard.cold_s"] = sum(passes[0][q]["s"] for q in DASHBOARD_MIX)
        # plan / exec spans of the traced warm passes
        warm_ops = {s.id for s in ctx.tracer.spans if s.attrs.get("pass", 0) > 0}
        for kind in ("plan", "exec"):
            ts = [s.end - s.start for s in ctx.tracer.spans if s.name == f"analytics.{kind}" and s.parent in warm_ops]
            out[f"analytics.{kind}_ms"] = statistics.median(ts) * 1000.0 if ts else 0.0
        out["analytics.jobs_per_query"] = statistics.mean(p[q]["jobs"] for p in warm for q in DASHBOARD_MIX)
        out["analytics.cache.entries"] = len(cache._CACHE)
        out["analytics.cache.build_s"] = build
        return out


def normalize(rows, cols) -> list[str]:
    """``tools/verify_local.py``'s order-insensitive canonical form of a
    result, with -0.0 read as 0.0 (DuckDB's ROUND keeps the sign of a tiny
    negative, Spark's does not)."""
    from tools import verify_local

    unsigned = [tuple(v + 0.0 if isinstance(v, float) else v for v in row) for row in rows]
    return verify_local.normalize(unsigned, cols)


# ----------------------------------------------------------------- clean --
class Clean:
    """The corpus-cleaning job over a seeded web corpus."""

    name = "clean"

    def prepare(self, ctx: Ctx) -> None:
        import duckdb

        import __spark_entry__ as entry

        d = inputs.cached(ctx.work_dir, self.name, ctx.seed, CLEAN_DOCS, inputs.build_corpus)
        self.docs = os.path.join(d, "documents.parquet")
        self.out = os.path.join(ctx.work_dir, "clean-out")
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.docs}/*.parquet')")
            res = con.execute(entry.oracle_sql()["corpus_clean_stats"])
            cols = [c[0] for c in res.description]
            self.expected = (sorted(cols), normalize(res.fetchall(), cols))
        finally:
            con.close()

    def ops(self, ctx: Ctx) -> list[Op]:
        from facturas_spark.analytics.corpus_clean import PACK_BUDGET, QUOTA_K
        from facturas_spark.jobs.clean_corpus import main

        # md5, the job's default fingerprint family, is the one the DuckDB
        # twin computes; xxhash64 drops a few different near-duplicates
        argv = [
            "--input", self.docs, "--output", self.out, "--cores", str(ctx.cores), "--synth-pii",
            "--quota-k", str(QUOTA_K), "--pack-budget", str(PACK_BUDGET),
        ]

        def run():
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                rc = main(argv)
            if rc != 0:
                raise RuntimeError(f"clean_corpus exited {rc}")
            return json.loads(buf.getvalue().strip().splitlines()[-1])

        return [Op("clean_job", run, prep=lambda: shutil.rmtree(self.out, ignore_errors=True))]

    def check(self, ctx: Ctx, passes: list[dict]) -> dict[tuple[int, str], str]:
        bad = {}
        for k, p in enumerate(passes):
            funnel = p["clean_job"]["out"]["stages"]["stats"]["funnel"]
            cols = sorted(funnel[0]) if funnel else []
            got = (cols, normalize([tuple(r[c] for c in cols) for r in funnel], cols))
            if got != self.expected:
                bad[(k, "clean_job")] = "funnel differs from the corpus_clean_stats DuckDB twin"
        return bad

    def layers(self, ctx: Ctx, passes: list[dict]) -> dict:
        warm = passes[1:] or passes
        out = {
            f"clean.{stage}_s": statistics.median(p["clean_job"]["out"]["stages"][stage]["sec"] for p in warm)
            for stage in ("flags", "clean", "stats")
        }
        out["clean.docs_per_s"] = CLEAN_DOCS / _median_op(warm, "clean_job")
        return out


# name -> (the timed part, its probe): a probe runs only in the traced run,
# one cold and one warm pass after the timed ones, so that every layer is
# measured while an untraced run stays inside the run budget
WORKLOADS = {
    "ingest": lambda: (Ingest(), Reconcile()),
    "analytics": lambda: (Dashboard(), Clean()),
}
