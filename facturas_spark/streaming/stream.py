"""Structured Streaming ingestion (SURVEY §1.2 / §7: the reference's
``cola_procesamiento`` priority-queue table re-expressed as micro-batches).

The reference processes one document per HTTP invocation with a row state
machine + retry queue (Database_tables:375-415). Here: a file-source stream
over the pages directory, the SAME fused extraction UDF, an
``availableNow`` trigger (drain-everything-then-stop = the queue), and a
checkpoint directory for exactly-once file tracking — re-runs pick up only
new files, which is the queue's at-least-once retry semantics without row
mutation.

Also provides a watermarked windowed aggregation (events stream) for the
late-data path — the streaming counterpart of Q1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from facturas_spark.extraction.udf import extract_doc_udf

__all__ = [
    "stream_extract_pages",
    "stream_extract_to_bucketed",
    "stream_windowed_events",
    "stream_dedup_urls",
    "stream_clean_increment",
]

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def stream_extract_pages(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain all currently-available page files through the extraction
    pipeline and stop (availableNow). Checkpointed: a second call processes
    only files added since the last run."""
    reader = (
        spark.readStream.schema(PAGES_DDL)
        .format("parquet")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    pages = reader.load(input_dir)

    extracted = pages.withColumn(
        "_d", extract_doc_udf(F.col("html"), F.col("text"))
    ).select("url", "warc_ts", "lang", F.col("_d.*")).drop("productos")

    q = (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_dedup_urls(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> None:
    """Custom stateful operator (``applyInPandasWithState``): per-url
    processing-state machine for streaming ingestion — the reference's
    ``cola_procesamiento`` row states (pendiente/procesado + intentos,
    Database_tables:375-415) kept as keyed stream state instead of row
    mutation. Each url is emitted exactly once (first delivery, lowest
    warc_ts wins inside a batch); re-deliveries in ANY later micro-batch
    only bump the state's ``intentos`` counter. State persists in the
    checkpoint, so dedup holds across restarts.

    Scale shape: state is hash-partitioned by url (same key layout as the
    storage buckets), one small struct per url; no unbounded growth beyond
    the url universe — at crawl scale pair with state TTL or a compacted
    Iceberg MERGE for the cold path."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import StructType

    out_schema = StructType.fromDDL(
        "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    state_schema = StructType.fromDDL("intentos int")

    def first_delivery_only(key, pdfs, state: GroupState):
        # `pdfs` is an ITERATOR of pandas chunks for the key: Arrow may
        # split one key's batch across several chunks, so the min-warc_ts
        # row must be tracked across ALL chunks before emitting — taking
        # the first chunk's min would silently drop a lower-warc_ts row
        # arriving in a later chunk.
        seen = state.get[0] if state.exists else 0
        best = None
        total = 0
        for pdf in pdfs:
            total += len(pdf)
            if seen == 0 and len(pdf) > 0:
                cand = pdf.sort_values("warc_ts", na_position="last").head(1)
                best = (
                    cand
                    if best is None
                    else pd.concat([best, cand])
                    .sort_values("warc_ts", na_position="last")
                    .head(1)
                )
        state.update((seen + total,))
        if seen == 0 and best is not None:
            yield best

    pages = (
        spark.readStream.schema(PAGES_DDL).format("parquet").load(input_dir)
    )
    deduped = pages.groupBy("url").applyInPandasWithState(
        first_delivery_only,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_windowed_events(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over a streaming events frame
    (streaming Q1): late rows beyond the watermark are dropped, state is
    bounded. Returns the streaming DataFrame (caller starts the sink)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("ventana"), "event_type")
        .agg(
            F.count("*").alias("eventos"),
            F.sum("value").alias("total_valor"),
        )
        .select(
            F.col("ventana.start").alias("inicio"),
            F.col("ventana.end").alias("fin"),
            "event_type",
            "eventos",
            "total_valor",
        )
    )


def _committed_epochs(ledger) -> set[int]:
    """Epoch ids whose ``epoch=<id>.json`` marker is in the CommitFS
    ledger, i.e. whose sink output is durably committed."""
    return {
        int(name[len("epoch="):-len(".json")])
        for name in ledger.list_names()
        if name.startswith("epoch=") and name.endswith(".json")
    }


def stream_extract_to_bucketed(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 8,
) -> None:
    """availableNow stream -> header extraction -> exactly-once bucketed
    sink, joining the streaming path to the batch layout (sources/io.py).

    Idempotence comes from the WRITE, not from bookkeeping: each epoch
    owns the directory ``extracted/epoch=<id>`` and overwrites it whole,
    so the worst-case failure — crash AFTER the parquet write but BEFORE
    the streaming checkpoint commit — just makes the replayed epoch
    rewrite an identical directory. (A plain append sink duplicates the
    epoch on exactly that crash; the batch job's dynamic partition
    overwrite is also wrong here — epoch 2 would clobber epoch 1's
    buckets.) The epoch ledger is the retry fast path + observability.
    Downstream readers read ``extracted/`` recursively; epoch and bucket
    surface as partition columns, bucket remaining the url-hash layout
    the batch job writes.

    Operational contract: the checkpoint and the epoch ledger are one
    unit — epoch ids restart at 0 when the checkpoint is lost, so keep
    both or delete both (a replayed epoch id overwrites that epoch's
    directory with whatever the new epoch contains)."""
    import os

    from facturas_spark.pipeline import extract_pages, with_salt_bucket
    from facturas_spark.sources.fs import CommitFS

    # epoch ledger through the Hadoop FileSystem API: same code path for
    # file:// here and hdfs://-or-s3a:// sinks on a cluster (CommitFS
    # picks rename-commit vs direct-PUT per scheme)
    ledger = CommitFS(os.path.join(out_dir, "_epoch_manifest"), spark=spark)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id in _committed_epochs(ledger):
            return  # fast path: retried epoch already durably committed
        out = with_salt_bucket(extract_pages(batch_df), n_buckets=n_buckets)
        (
            out.write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(os.path.join(out_dir, "extracted", f"epoch={epoch_id}"))
        )
        ledger.write_json(f"epoch={epoch_id}.json", {"epoch": int(epoch_id)})

    q = (
        spark.readStream.schema(PAGES_DDL)
        .format("parquet")
        .load(input_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


DOCS_DDL = "doc_id long, source string, lang string, text string"


def stream_clean_increment(
    spark: SparkSession,
    input_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    benchmark_path: str | None = None,
    semantic_tau: float | None = None,
) -> None:
    """The continuously-fed corpus cleaner: NEW documents stream in, pass
    the per-doc quality stages (nonempty/langid/gopher/repetition/PII
    scrub — ``analytics/corpus_clean.quality_frame``), are deduplicated
    against the ALREADY-INGESTED corpus without re-deduping the corpus
    (the ``dedup_incremental`` shape), and the survivors append
    exactly-once. This is the streaming form of ``jobs/clean_corpus.py``
    — the daily-crawl-increment production loop.

    Corpus state layout (all columnar, partition-per-epoch, all written
    by this sink so re-reads include prior epochs):

      <corpus>/docs/epoch=N      kept docs (doc_id, source, text=scrubbed)
      <corpus>/fps/epoch=N       exact-dedup fingerprint index (doc_id, fp)
      <corpus>/bands/epoch=N     MinHash band index (doc_id, band, key)
      <corpus>/embs/epoch=N      hash embeddings (semantic_tau only)
      <corpus>/embbands/epoch=N  sign-LSH index over embs (semantic_tau only)

    ``semantic_tau`` adds the streaming twin of the batch job's
    ``--semantic-dedup`` stage (round-5 verdict directive 3): each batch
    is first SemDeDup'd internally with the SAME
    ``corpus_clean.semantic_dedup_ids`` kernel the batch job runs, then
    checked against the PERSISTED corpus embedding-band index — LSH
    candidates via an equi-join on (band, key), exact-cosine verify as a
    point lookup of only the collided corpus vectors. Survivors append
    their embeddings + bands to the index, so a rephrased duplicate
    arriving epochs later still hits its original.

    Scale notes: the fingerprint and band joins are equi-joins against
    PERSISTED indexes (never recomputed from corpus text); Jaccard
    verification re-shingles ONLY the corpus docs that band-collide with
    the batch (a point-lookup join on doc_id — tiny vs the corpus).
    Exactly-once by the same per-epoch-overwrite-directory protocol as
    stream_extract_to_bucketed, ledger through CommitFS."""
    import os

    from facturas_spark.analytics.corpus_clean import quality_frame
    from facturas_spark.analytics.dedup import (
        LSH_JACCARD_THRESHOLD,
        _band_table,
        _jaccard,
        _shingle_table,
    )
    from facturas_spark.sources.fs import CommitFS

    ledger = CommitFS(os.path.join(corpus_dir, "_epoch_manifest"), spark=spark)

    # optional eval-set decontamination: the benchmark fingerprint set is
    # built ONCE at stream setup and persisted — every micro-batch then
    # pays only a broadcast hash join (GPT-3-style 13-gram overlap)
    bench_hashes = None
    if benchmark_path is not None:
        from facturas_spark.analytics.corpus_clean import benchmark_fingerprints

        bench_hashes = benchmark_fingerprints(
            spark.read.parquet(benchmark_path)
        ).persist()
        bench_hashes.count()

    def read_or_empty(path: str, ddl: str, committed: set[int]) -> DataFrame:
        """Read a corpus index layer restricted to LEDGER-COMMITTED
        epochs. The epoch=N directories are written BEFORE the ledger
        marker commits, so a crash-replayed epoch must not see its own
        partial writes: without the filter, epoch N's retry would find
        its own fps/embs rows, self-match every batch doc, and commit
        the epoch EMPTY — silent data loss (round-6 review). The caller
        passes the committed set from ONE listing per sink invocation —
        up to 6 layers read per micro-batch, and each listing is a
        directory/object-store RPC (round-6 review)."""
        try:
            df = spark.read.parquet(path)
        except Exception:
            return spark.createDataFrame([], ddl)
        return df.filter(F.col("epoch").isin(list(committed))).drop("epoch")

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        committed = _committed_epochs(ledger)
        if epoch_id in committed:
            return
        # every persisted/checkpointed frame serves only THIS micro-
        # batch; register them so the outer finally releases blocks
        # even when a phase FAILS mid-build (round-6 review: the
        # semantic phase ran real jobs before the old try/finally, so
        # a failing batch leaked its frames for the session lifetime)
        _persisted: list[DataFrame] = []
        # block-RDD ids materialized by per-batch eager localCheckpoints:
        # unlike persist(), a checkpointed frame's blocks are NOT released
        # by unpersisting the DataFrame handle — without explicit cleanup
        # they linger until nondeterministic py4j/ContextCleaner GC, one
        # leaked frame per epoch on a long-running stream (round-7 advice)
        _ckpt_rdd_ids: list[int] = []

        def _p(df: DataFrame) -> DataFrame:
            _persisted.append(df.persist())
            return df

        def _ck(df: DataFrame) -> DataFrame:
            # shared locked delta window (analytics/cache.py): a
            # concurrent session_cached build on another thread must not
            # claim this batch's unrecomputable checkpoint blocks, nor
            # vice versa (review fix)
            from facturas_spark.analytics.cache import checkpoint_with_ids

            out, ids = checkpoint_with_ids(spark, df)
            _ckpt_rdd_ids.extend(ids)
            return out

        # scratch scope for the tracked checkpoints made INSIDE library
        # calls this epoch (semantic_dedup_ids -> _min_label_components'
        # loop rounds): attributed here and freed in the finally below,
        # instead of lingering on the loose ledger one frame per epoch
        # (the round-7-advice leak class). Entered/exited manually to
        # avoid re-indenting the whole epoch body.
        from facturas_spark.analytics.cache import scratch_scope

        _scope = scratch_scope(spark)
        _scope.__enter__()
        try:
            if bench_hashes is not None:
                from facturas_spark.analytics.corpus_clean import (
                    contaminated_ids_against,
                )

                batch_df = batch_df.join(
                    contaminated_ids_against(batch_df, bench_hashes),
                    "doc_id",
                    "left_anti",
                )
            f1 = quality_frame(batch_df)
            surv = f1.filter(F.col("s3")).select(
                "doc_id", "source", F.col("scrubbed").alias("text")
            )

            prior_fp = read_or_empty(
                os.path.join(corpus_dir, "fps"), "doc_id long, fp string",
                committed,
            ).select(F.col("doc_id").alias("pid"), "fp")
            prior_bands = read_or_empty(
                os.path.join(corpus_dir, "bands"),
                "doc_id long, band int, key string",
                committed,
            ).select(F.col("doc_id").alias("cid"), "band", "key")
            prior_docs = read_or_empty(
                os.path.join(corpus_dir, "docs"),
                DOCS_DDL.replace(" lang string,", ""),
                committed,
            ).select(F.col("doc_id").alias("cid"), F.col("text").alias("ctext"))

            # exact phase: batch fp vs corpus index + batch-internal min-arrival
            bfp = surv.withColumn("fp", F.md5("text"))
            from pyspark.sql.window import Window

            bfp = bfp.withColumn(
                "_min", F.min("doc_id").over(Window.partitionBy("fp"))
            ).withColumn("_batch_first", F.col("doc_id") == F.col("_min"))
            ex_hit = bfp.join(prior_fp, "fp", "left_semi").select("doc_id")
            exact_kept = _p(
                bfp.filter(F.col("_batch_first"))
                .join(ex_hit, "doc_id", "left_anti")
                .select("doc_id", "source", "text", "fp")
            )

            # near phase: batch bands vs PERSISTED corpus band index; verify
            # re-shingles only the collided corpus docs
            sh_b = _p(_shingle_table(exact_kept.select("doc_id", "text")))
            bands_b = _band_table(sh_b)
            cand = _ck(
                bands_b.withColumnRenamed("doc_id", "bid")
                .join(prior_bands, ["band", "key"])
                .select("bid", "cid")
                .distinct()
                # referenced twice (corpus re-shingle ids + verify probe);
                # see dedup._verified_pairs — AQE re-executes an
                # unmaterialized candidate DAG once per reference
            )
            cand_corpus_sh = _shingle_table(
                cand.select("cid").distinct()
                .join(prior_docs, "cid")
                .select(F.col("cid").alias("doc_id"), F.col("ctext").alias("text"))
            ).toDF("cid", "s2")
            near_hit = (
                cand.join(sh_b.toDF("bid", "s1"), "bid")
                .join(cand_corpus_sh, "cid")
                .filter(_jaccard(F.col("s1"), F.col("s2")) >= LSH_JACCARD_THRESHOLD)
                .select(F.col("bid").alias("doc_id"))
                .distinct()
            )
            kept = _p(exact_kept.join(near_hit, "doc_id", "left_anti"))

            # semantic phase (SemDeDup, streaming twin of --semantic-dedup):
            # batch-internal drops via the batch job's own kernel, then
            # batch-vs-corpus via the persisted embedding-band index
            emb_kept = None
            if semantic_tau is not None:
                from facturas_spark.analytics.corpus_clean import semantic_dedup_ids
                from facturas_spark.analytics.dedup import (
                    _emb_band_table,
                    _pair_cosine,
                )
                from facturas_spark.extraction.embed import embed_udf

                internal = semantic_dedup_ids(
                    kept.select("doc_id", "text"), tau=semantic_tau
                )
                sem_kept = kept.join(internal, "doc_id", "left_anti")
                emb_b = _p(
                    sem_kept.select(
                        "doc_id", embed_udf(F.col("text")).alias("embedding")
                    )
                    .filter(F.col("embedding").isNotNull())
                )
                prior_embbands = read_or_empty(
                    os.path.join(corpus_dir, "embbands"),
                    "doc_id long, band int, key int",
                    committed,
                ).select(F.col("doc_id").alias("cid"), "band", "key")
                prior_embs = read_or_empty(
                    os.path.join(corpus_dir, "embs"),
                    "doc_id long, embedding array<float>",
                    committed,
                )
                cand_sem = (
                    _emb_band_table(emb_b, "doc_id")
                    .withColumnRenamed("doc_id", "bid")
                    .join(prior_embbands, ["band", "key"])
                    .select("bid", "cid")
                    .distinct()
                )
                sem_hit = (
                    _pair_cosine(
                        cand_sem, emb_b, prior_embs, "doc_id", lid="bid", rid="cid"
                    )
                    .filter(F.col("_cos") >= semantic_tau)
                    .select(F.col("bid").alias("doc_id"))
                    .distinct()
                )
                kept = _p(sem_kept.join(sem_hit, "doc_id", "left_anti"))
                emb_kept = emb_b.join(kept.select("doc_id"), "doc_id", "left_semi")

            # exactly-once appends: each epoch owns its directories wholesale
            ep = f"epoch={epoch_id}"
            kept.select("doc_id", "source", "text").write.mode("overwrite").parquet(
                os.path.join(corpus_dir, "docs", ep)
            )
            kept.select("doc_id", "fp").write.mode("overwrite").parquet(
                os.path.join(corpus_dir, "fps", ep)
            )
            _band_table(_shingle_table(kept.select("doc_id", "text"))).write.mode(
                "overwrite"
            ).parquet(os.path.join(corpus_dir, "bands", ep))
            if emb_kept is not None:
                from facturas_spark.analytics.dedup import _emb_band_table

                emb_kept.write.mode("overwrite").parquet(
                    os.path.join(corpus_dir, "embs", ep)
                )
                _emb_band_table(emb_kept, "doc_id").write.mode(
                    "overwrite"
                ).parquet(os.path.join(corpus_dir, "embbands", ep))
            ledger.write_json(f"epoch={epoch_id}.json", {"epoch": int(epoch_id)})
        finally:
            from facturas_spark.analytics.cache import free_block_ids
            from facturas_spark.analytics.corpus_clean import (
                release_stage_caches,
            )

            for _df in _persisted:
                _df.unpersist()
            # drop the checkpointed frames' blocks by recorded RDD id —
            # safe, they're per-batch-only and the epoch writes are done
            free_block_ids(spark, _ckpt_rdd_ids)
            release_stage_caches()
            _scope.__exit__(None, None, None)

    q = (
        spark.readStream.schema(DOCS_DDL)
        .format("parquet")
        .load(input_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        if bench_hashes is not None:
            bench_hashes.unpersist()
