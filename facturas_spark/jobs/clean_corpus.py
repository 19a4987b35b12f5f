"""spark-submit entry point for the corpus-cleaning pipeline.

Usage (cluster or local):

    C2=$(python -c 'from facturas_spark.session import C2_THRESHOLDS as t; print(t)')
    spark-submit --master <master> --driver-memory 8g \\
        --driver-java-options "-XX:+UseParallelGC $C2" \\
        --py-files facturas_spark.zip \\
        facturas_spark/jobs/clean_corpus.py \\
        --input /data/documents_parquet --output /data/clean \\
        [--quota-k 15] [--pack-budget 512] [--cores 32] \\
        [--benchmark /data/eval_set_parquet]

The driver's memory and Java options go to spark-submit itself, as in
``jobs/extract_job.py``: its driver JVM is running before ``get_spark``
is called, and the session keeps spark-submit's ``--master`` and
``--conf`` values.

The corpus-side twin of ``jobs/extract_job.py`` — the single
lineage-managed pass the reference runs as its one end-to-end handler
(process-invoice/index.ts:4181-5365), here chaining langid -> gopher ->
repetition -> PII scrub -> exact+near dedup -> source quota -> packing
over the FULL input table (``analytics/corpus_clean.py``; no demo
bounds).

Resume is stage-granular through the same CommitFS marker protocol the
extraction job uses (object-store-safe; ``sources/fs.py``):

    flags  — the heavy single-pass per-doc decision frame (every filter,
             both dedup chains, quota + packing assignments) written to
             ``<out>/flags``; everything downstream derives from this
             parquet, so a crash later never recomputes the chain.
    clean  — surviving corpus (scrubbed text + pack assignment) written
             to ``<out>/clean``.
    stats  — the 9-row stage funnel written to ``<out>/stats`` AND
             recorded in the manifest entry (the job's metrics).

A re-run skips committed stages (idempotent: each stage overwrites its
own directory before its marker commits); the first run pins the
arguments the flags depend on, and a rerun with other values exits 2,
since its skipped stages would stand on the old flags. Cluster sizing
notes mirror extract_job.py: shuffle partitions ~2-3x cores (the chain
shuffles on (doc_id, gram), fingerprint, band key, source) and AQE on
for skew.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)

# the arguments that decide the flags (--cores and --iceberg-table do not)
_PINNED = ("input", "quota_k", "pack_budget", "synth_pii", "semantic_dedup", "benchmark")


def _pin_args(manifest, names: list[str], args) -> str | None:
    """Record the pinned arguments in ``args.json`` on the first run; on a
    rerun return why it must not resume, or None when they match."""
    pinned = {k: getattr(args, k) for k in _PINNED}
    if "args.json" in names:
        old = manifest.read_json("args.json")
        differ = [f"--{k.replace('_', '-')} {old.get(k)!r} (now {v!r})"
                  for k, v in pinned.items() if old.get(k) != v]
        return "written with other arguments: " + ", ".join(differ) if differ else None
    if any(n.startswith("stage=") for n in names):
        return "committed stages but no pinned arguments"
    manifest.write_json("args.json", pinned)
    return None


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--input", required=True, help="documents parquet path")
    parser.add_argument("--output", required=True, help="output dir")
    parser.add_argument("--quota-k", type=int, default=15)
    parser.add_argument("--pack-budget", type=int, default=512)
    parser.add_argument("--cores", type=int, default=None, help="local-mode cores")
    parser.add_argument(
        "--synth-pii",
        action="store_true",
        help="inject deterministic PII-shaped suffixes (test corpora are "
        "PII-free; gives the scrub stage signal)",
    )
    parser.add_argument(
        "--semantic-dedup",
        type=float,
        default=None,
        metavar="TAU",
        help="SemDeDup stage among near-dup survivors: drop docs whose "
        "hash-embedding cosine with an earlier survivor reaches TAU "
        "(catches reorderings/rephrasings MinHash misses; banded "
        "sign-bucket LSH candidates, never all-pairs)",
    )
    parser.add_argument(
        "--benchmark",
        default=None,
        help="eval-set parquet (needs a text column); docs sharing any "
        "13-word n-gram with it are dropped BEFORE the quality chain "
        "(GPT-3/PaLM decontamination; the benchmark fingerprint set is "
        "broadcast, the corpus side stays a map pass)",
    )
    parser.add_argument(
        "--iceberg-table",
        default=None,
        help="ALSO write the cleaned corpus to this Iceberg table "
        "(catalog.db.table) via createOrReplace — idempotent like "
        "the parquet stages, and written before the clean stage's marker "
        "commits; requires the iceberg-spark-runtime jar "
        "(skipped with a warning when absent, parquet output stands)",
    )
    args = parser.parse_args(argv)

    from facturas_spark.analytics.cache import scratch_persist, scratch_scope
    from facturas_spark.analytics.corpus_clean import (
        clean_funnel,
        cleaned_corpus,
        contaminated_ids,
        per_doc_flags,
        with_synth_pii,
    )
    from facturas_spark.session import get_spark
    from facturas_spark.sources.fs import CommitFS

    spark = get_spark("facturas-clean-corpus", cores=args.cores)
    manifest = CommitFS(os.path.join(args.output, "_manifest"), spark=spark)
    names = manifest.list_names()
    refused = _pin_args(manifest, names, args)
    if refused:
        print(f"{args.output}: {refused}; refusing to resume", file=sys.stderr)
        return 2
    done = {
        n[len("stage="):-len(".json")]
        for n in names
        if n.startswith("stage=") and n.endswith(".json")
    }
    result: dict = {"skipped": sorted(done), "stages": {}}

    flags_path = os.path.join(args.output, "flags")
    if "flags" not in done:
        t_stage = time.perf_counter()
        docs = spark.read.parquet(args.input)
        if args.synth_pii:
            docs = with_synth_pii(docs)
        decon_meta = {}
        # every frame the chain persists or checkpoints serves only the
        # flags write; the scope frees them all once the parquet (the
        # source of truth from here on) is written, or the build fails
        with scratch_scope(spark):
            if args.benchmark:
                # persisted: the count below and the anti-join inside the
                # flags job both consume it — without persist the
                # full-corpus k-gram scan would run twice
                bad = scratch_persist(
                    contaminated_ids(docs, spark.read.parquet(args.benchmark))
                )
                n_bad = bad.count()
                docs = docs.join(bad, "doc_id", "left_anti")
                decon_meta = {"decontaminated": n_bad}
            flags = per_doc_flags(
                docs,
                quota_k=args.quota_k,
                pack_budget=args.pack_budget,
                semantic_tau=args.semantic_dedup,
            )
            flags.write.mode("overwrite").parquet(flags_path)
        flags_back = spark.read.parquet(flags_path)
        rows = flags_back.count()
        if args.semantic_dedup is not None:
            from pyspark.sql import functions as SF

            decon_meta["semantic_dropped"] = flags_back.agg(
                SF.sum(SF.col("sem_drop").cast("long"))
            ).collect()[0][0]
        manifest.write_json(
            "stage=flags.json", {"stage": "flags", "rows": rows, **decon_meta}
        )
        result["stages"]["flags"] = {
            "rows": rows,
            "sec": round(time.perf_counter() - t_stage, 2),
            **decon_meta,
        }

    flags_df = spark.read.parquet(flags_path)

    if "clean" not in done:
        t_stage = time.perf_counter()
        clean_path = os.path.join(args.output, "clean")
        cleaned_corpus(flags_df).write.mode("overwrite").parquet(clean_path)
        rows = spark.read.parquet(clean_path).count()
        iceberg = {}
        # the Iceberg copy belongs to the stage: written before the marker
        # commits, so a failed write leaves the stage open and a rerun
        # retries it instead of skipping it
        if args.iceberg_table:
            from facturas_spark.sources.iceberg import iceberg_available

            if iceberg_available(spark, args.iceberg_table.split(".", 1)[0]):
                spark.read.parquet(clean_path).writeTo(
                    args.iceberg_table
                ).createOrReplace()
                iceberg = {"iceberg_table": args.iceberg_table}
            else:
                print(
                    "WARN: no Iceberg runtime on the classpath; cleaned "
                    "corpus written to parquet only",
                    file=sys.stderr,
                )
        manifest.write_json("stage=clean.json", {"stage": "clean", "rows": rows})
        result["stages"]["clean"] = {
            "rows": rows, "sec": round(time.perf_counter() - t_stage, 2), **iceberg
        }

    if "stats" not in done:
        t_stage = time.perf_counter()
        stats_path = os.path.join(args.output, "stats")
        funnel = clean_funnel(flags_df).orderBy("stage")
        funnel.coalesce(1).write.mode("overwrite").parquet(stats_path)
        stats_rows = [r.asDict() for r in spark.read.parquet(stats_path).orderBy("stage").collect()]
        manifest.write_json(
            "stage=stats.json", {"stage": "stats", "funnel": stats_rows}
        )
        result["stages"]["stats"] = {
            "funnel": stats_rows, "sec": round(time.perf_counter() - t_stage, 2)
        }

    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
