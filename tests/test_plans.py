"""Physical-plan audits: the optimizations the 100 TB story depends on.

Each test asserts a plan property that must survive scale-up:
filter pushdown to the parquet scan, column pruning, broadcast dim joins,
no Python in SQL-only queries, zero shuffles in the extraction job.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as em
from facturas_spark.plans import executed_plan as _plan

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    """q08 filters l_partkey <= 100: must appear in PushedFilters of the
    parquet scan, not as a post-scan Filter only."""
    plan = _plan(em.queries()["q08_price_history_log"](spark, SF))
    assert "PushedFilters:" in plan
    assert "LessThanOrEqual(l_partkey,100)" in plan


def test_column_pruning(spark):
    """txt_token_stats touches only (lang, text): the documents scan must
    not read doc_id/source/n_chars."""
    plan = _plan(em.queries()["txt_token_stats"](spark, SF))
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines, plan
    rs = scan_lines[0]
    assert "text" in rs and "lang" in rs
    assert "n_chars" not in rs and "source" not in rs


def test_broadcast_join_for_dims(spark):
    """q02 joins lineitem to the part dim: must be a broadcast hash join,
    not sort-merge (no shuffle of the fact side by join key)."""
    plan = _plan(em.queries()["q02_top_products"](spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_sql_queries_have_no_python(spark):
    """EVERY oracle-checked query must run fully JVM-side — any
    Python/Arrow eval node in them would be a 10-100x hot-path regression.
    (Rows-only pipelines are the per-doc UDF surface and are exempt.)"""
    qs = em.queries()
    oracle_backed = set(em.oracle_sql())
    # dedup_clusters runs its iterative fixpoint loop at construction time
    # (driver-side convergence counts) — exempt here; its per-iteration
    # operators are plain join+min-agg built-ins.
    oracle_backed.discard("dedup_clusters")
    oracle_backed.discard("dedup_canonical_corpus")  # builds on the loop
    # the embedder facet IS an Arrow kernel surface (the hashed-3-gram
    # projection, vectorized pandas_udf) — oracle-twinned for exactness
    # but per-doc Python by design, like the rows-only pipelines
    # (embed_neighbor_graph is its pairwise-cosine facet, same kernel)
    oracle_backed.discard("embed_fingerprint_stats")
    oracle_backed.discard("embed_neighbor_graph")
    # the layout facet runs the REAL walk_layout kernel on purpose — the
    # DuckDB twin re-derives its numbers from raw spans with pure SQL, so
    # the pair is a cross-engine check OF the Python kernel itself
    oracle_backed.discard("ocr_layout_facets")
    oracle_backed.discard("corpus_clean_stats")  # built-ins + the loop
    # NFC normalization has no Spark built-in — the Arrow pandas UDF is
    # the documented exemption (control-char strip stays JVM-side)
    oracle_backed.discard("txt_charset_normalize")
    for name, fn in qs.items():
        if name not in oracle_backed:
            continue
        plan = _plan(fn(spark, SF))
        assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan, name


def test_m5_pair_generation_no_theta_join(spark):
    """m5_product_match_pairs must source candidates from the M2 keyword
    equi-join, not a bounded cartesian: no nested-loop/cartesian node in
    the plan (the property that lets the same query run on an unbounded
    catalog)."""
    plan = _plan(em.queries()["m5_product_match_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_lsh_pairs_no_theta_join(spark):
    """dedup_embedding_lsh candidates come from the multi-band sign-bucket
    equi-join; the only inequality (id1 < id2) must be a post-join filter,
    not a nested-loop join condition — and the join key must be the
    BANDED (band, key) composite, not a single bucket column (single-key
    joins cap parallelism at 2^bits and concentrate skew at scale)."""
    plan = _plan(em.queries()["dedup_embedding_lsh"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the candidate self-join (or its exchange) is keyed on band AND key
    joined_on_band = any(
        "band" in line and "key" in line
        for line in plan.splitlines()
        if "Join" in line or "hashpartitioning" in line
    )
    assert joined_on_band, plan


def test_lsh_cluster_chain_no_theta_join(spark):
    """The end-to-end dedup chain's candidate generation (band-key
    equi-join) and verify must plan without any cartesian; the component
    labels it returns are a persisted scan."""
    from facturas_spark.analytics import dedup as D

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sh = D._shingle_table(docs)
    plan = _plan(sh)
    assert "CartesianProduct" not in plan
    # candidate generation is the banded equi-join — no theta/cartesian,
    # keyed on (band, key). Guards against regression to all-pairs.
    cand_plan = _plan(D._lsh_candidate_pairs(sh))
    assert "CartesianProduct" not in cand_plan
    assert "BroadcastNestedLoopJoin" not in cand_plan
    assert any(
        "band" in line and "key" in line
        for line in cand_plan.splitlines()
        if "Join" in line or "hashpartitioning" in line
    ), cand_plan
    labels = em.queries()["dedup_lsh_clusters"](spark, SF)
    assert labels.columns == ["doc_id", "cluster_id"]


def test_partial_aggregation_map_side(spark):
    """Aggregations must do map-side partial aggregation (partial_count /
    partial_sum before the exchange) — the combiner that keeps the shuffle
    proportional to group count, not row count."""
    plan = _plan(em.queries()["q01_daily_sales"](spark, SF))
    assert "partial_count" in plan and "partial_sum" in plan


def test_whole_stage_codegen_present(spark):
    """Codegen spans (the `*(n)` markers) appear in the final adaptive plan
    after execution — the SQL operators run inside generated code."""
    df = em.queries()["q01_daily_sales"](spark, SF)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "*(" in plan


def test_extraction_job_zero_shuffle(spark):
    """The 10^12-doc job: scan -> fused Arrow UDF -> project. Any Exchange
    here would shuffle the full corpus."""
    from facturas_spark.pipeline import extract_pages_full
    from facturas_spark.synth import PAGES_SCHEMA_DDL, corpus_rows

    df = spark.createDataFrame(corpus_rows(8, seed=1), PAGES_SCHEMA_DDL)
    plan = _plan(extract_pages_full(df))
    assert "Exchange" not in plan
    # exactly one Python eval node (the fused UDF)
    assert plan.count("ArrowEvalPython") == 1

def test_sessionization_single_hash_shuffle(spark):
    """events_sessionization: the lag window, the session-label window, and
    both aggregations must all reuse ONE hashpartitioning(user_id)
    exchange; the only other exchange allowed is the final presentation
    orderBy's rangepartitioning."""
    plan = _plan(em.queries()["events_sessionization"](spark, SF))
    hash_ex = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    range_ex = [
        ln for ln in plan.splitlines()
        if "Exchange rangepartitioning" in ln
    ]
    assert len(hash_ex) == 1, plan
    assert "user_id" in hash_ex[0], hash_ex[0]
    assert len(range_ex) <= 1, plan


def test_incremental_dedup_no_theta_join(spark):
    """dedup_incremental: every join is an equi-join (fingerprint, band
    key, or doc id) — no cartesian/nested-loop anywhere, the property that
    lets the increment run against an unbounded corpus."""
    plan = _plan(em.queries()["dedup_incremental"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the band-key candidate join is eagerly checkpointed in production
    # (AQE re-executes multiply-referenced candidate DAGs — see
    # dedup._verified_pairs), so assert its equi-join shape on the
    # un-materialized builder, same pattern as the full-chain test.
    from facturas_spark.analytics import dedup as D

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sh_b = D._shingle_table(docs.filter(docs.doc_id % 5 == 0))
    sh_c = D._shingle_table(docs.filter(docs.doc_id % 5 != 0))
    cand_plan = _plan(D._incr_candidate_pairs(sh_b, sh_c))
    assert "CartesianProduct" not in cand_plan
    assert "BroadcastNestedLoopJoin" not in cand_plan
    assert any(
        "band" in line and "key" in line
        for line in cand_plan.splitlines()
        if "Join" in line or "hashpartitioning" in line
    ), cand_plan


def test_repetition_filter_no_python_no_cartesian(spark):
    """txt_repetition_filter: explode->count->reduce must stay JVM-side
    (no Python eval nodes) and join per-doc stats back by doc_id only."""
    plan = _plan(em.queries()["txt_repetition_filter"](spark, SF))
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE skew-join mitigation, demonstrated end-to-end: a fact table
    where one key holds ~80% of rows joins a non-broadcastable dim; with
    production-shaped thresholds scaled to test data, the FINAL adaptive
    plan must mark the sort-merge join skew-handled (hot partition split
    into multiple tasks). This is the runtime half of the skew strategy —
    the write-side half is salting (test_salt_bucket_spreads_hot_host)."""
    from pyspark.sql import functions as F

    knobs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {k: spark.conf.get(k) for k in knobs}
    for k, v in knobs.items():
        spark.conf.set(k, v)
    try:
        # incompressible padding: a constant pad shrinks to nothing under
        # shuffle compression and the partition never crosses the skew
        # threshold; chained md5 hex is ~random
        pad = F.concat(*[F.md5((F.col("id") + i).cast("string")) for i in range(6)])
        fact = spark.range(0, 60000).select(
            F.when(F.col("id") < 48000, F.lit(7))
            .otherwise(F.col("id") % 64)
            .alias("k"),
            pad.alias("pad"),
        )
        dim = spark.range(0, 64).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        joined = fact.join(dim, "k")
        # materialize via this DataFrame's OWN QueryExecution — count() or
        # a derived .drop() plans a separate job and leaves this plan
        # isFinalPlan=false
        assert len(joined.collect()) == 60000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_clean_chain_plan_properties(spark):
    """The corpus-clean chain must keep the properties its 100 TB story
    claims: near-dup candidates only from the banded equi-join (no
    cartesian/nested-loop anywhere in the flag frame's plan) and no
    Python eval nodes (every stage is built-ins)."""
    from facturas_spark.analytics.corpus_clean import per_doc_flags, with_synth_pii

    docs = with_synth_pii(spark.read.parquet(f"{SF}/documents.parquet"))
    plan = _plan(per_doc_flags(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan


def test_decontamination_broadcast_no_cartesian(spark):
    """txt_decontamination must broadcast the (small) benchmark n-gram
    set and hash-join the exploded corpus side — the corpus never
    shuffles on the fingerprint, so the scan stays map-side at 100 TB."""
    plan = _plan(em.queries()["txt_decontamination"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan


def test_semdedup_cell_equijoin_no_cartesian(spark):
    """dedup_semantic's pairwise compare must key on the cell id (the
    SemDeDup O(sum cell^2) bound): no cartesian anywhere; the only
    broadcast-nested-loop allowed is the 8-row centroid broadcast."""
    plan = _plan(em.queries()["dedup_semantic"](spark, SF))
    assert "CartesianProduct" not in plan
    joined_on_cell = any(
        "cell" in line
        for line in plan.splitlines()
        if "SortMergeJoin" in line or "ShuffledHashJoin" in line
        or "hashpartitioning" in line or "BroadcastHashJoin" in line
    )
    assert joined_on_cell, plan


def test_unigram_lm_partial_agg_and_broadcast_totals(spark):
    """Vocab build must partial-aggregate map-side; the (T, V) totals are
    a 1-row broadcast, never a shuffle of the token stream."""
    plan = _plan(em.queries()["txt_unigram_lm_score"](spark, SF))
    assert "partial_count" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_incremental_ckpt_guard_adaptive(spark, monkeypatch):
    """Round-7 directive: the candidate checkpoint is adaptive on the
    materialized candidate count — small graphs stay on persist() (one
    execution, cached blocks serve both references), large graphs
    upgrade to the lineage-truncating eager localCheckpoint. Both paths
    must produce identical decisions."""
    from facturas_spark.analytics import dedup as D

    base = sorted(
        tuple(r) for r in D.dedup_incremental(spark, SF).collect()
    )
    # threshold 0 forces every candidate set onto the checkpoint path
    monkeypatch.setattr(D, "INCR_CKPT_THRESHOLD", 0)
    forced = sorted(
        tuple(r) for r in D.dedup_incremental(spark, SF).collect()
    )
    assert base == forced
