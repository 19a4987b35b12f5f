"""The production corpus-cleaning pipeline: one lineage-managed pass.

A user cleaning a crawl runs the LLM-corpus quality stages as ONE
chained job, and this module is the one implementation of each stage:
the chain is the corpus-side analogue of the
extraction side's ``process-invoice`` handler
(/root/reference/supabase/functions/process-invoice/index.ts:4181-5365),
re-expressed over the full ``documents`` table with no demo bounds:

    0 nonempty     trim(text) <> ''
    1 langid       keep docs with >=1 en/es marker token
    2 gopher       Rae et al. 2021 rules: word count in [10, 1e5],
                   mean word length in [2, 10], >=80%% alphabetic words,
                   >=2 distinct stopwords (en ∪ es list — the corpus is
                   bilingual)
    3 repetition   C4/Gopher: top-2-gram fraction <= 0.20 AND repeated-
                   3-gram fraction <= 0.30
    4 pii scrub    email/phone/IPv4 spans -> <EMAIL>/<PHONE>/<IP>
                   (counts reported; no docs dropped)
    5 dedup exact  md5 fingerprint of the SCRUBBED text, keep min doc_id
    6 dedup near   MinHash(8)/LSH(4 bands) candidates over scrubbed-text
                   shingles -> Jaccard >= 0.5 verify -> connected
                   components, keep each cluster's min doc_id
    7 source quota keep first K per source under the md5(doc_id) shuffle
                   order (exact caps, row_number)
    8 packing      512-token budget packs by running sum in doc_id order

Scale shape: stages 0-5 are map stages + two keyed shuffles (the
repetition n-gram counts and the fingerprint window); stage 6 is the
banded candidate join (never all-pairs) + the iterative component loop;
7 is one shuffle on source; 8 is a running sum split into
defaultParallelism contiguous doc_id ranges, each offset by the token
total of the ranges before it (the global sum's exact values). Decision
thresholds compare UNROUNDED integer ratios — both engines evaluate the
identical IEEE division, so the DuckDB funnel twin matches exactly.

The per-doc flag frame is computed once (localCheckpoint) and serves
both the funnel stats and the cleaned-corpus projection; the
spark-submit job (``facturas_spark/jobs/clean_corpus.py``) adds
stage-granular manifest resume on top.
"""

from __future__ import annotations

from itertools import accumulate

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from facturas_spark.analytics.cache import scratch_persist
from facturas_spark.analytics.cache import table_scan as _t
from facturas_spark.analytics.dedup import (
    DECON_K,
    _kgram_hashes,
    _lsh_candidate_pairs,
    _min_label_components,
    _shingle_table,
    _verified_pairs,
    _words,
)

__all__ = [
    "MARKERS_EN",
    "MARKERS_ES",
    "STOPWORDS_BI",
    "PII_EMAIL",
    "PII_PHONE",
    "PII_IPV4",
    "contaminated_ids",
    "semantic_dedup_ids",
    "per_doc_flags",
    "clean_funnel",
    "cleaned_corpus",
    "corpus_clean_stats",
]

# language-marker token lists (stage 1)
MARKERS_EN = ["the", "of", "and", "to", "in", "a", "is"]
MARKERS_ES = ["el", "la", "de", "que", "los", "las", "una", "y"]

# gopher stopword rule (stage 2), bilingual union of the en and es lists
STOPWORDS_BI = ["the", "be", "to", "of", "and", "that", "have", "with", "a", "in"] + MARKERS_ES

# PII patterns (stage 4) — single source of truth so
# the Spark chain, the job, and the DuckDB twin can't drift
PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PII_PHONE = r"\b[679]\d{2}[ .-]?\d{3}[ .-]?\d{3}\b"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

PACK_BUDGET = 512
QUOTA_K = 15  # stats-query default; the job parameterizes

# Largest per-source row count the single-phase quota window may
# serialize through one task before the auto mode switches to the exact
# two-phase salted form — and the largest TOTAL survivor count whose
# all-rows single-phase output may join back onto the fat frame (past
# it the bounded two-phase output broadcasts instead, sparing the fat
# frame a doc_id reshuffle; profiled FLAT ~12 s at 4 AND 16 cores on
# the 2.4M-doc sweep corpus with single-phase).
QUOTA_SALT_TARGET = 200_000

# Winner-id broadcast ceiling for the exact-dedup join-back: 8M long
# keys is ~130 MB as a dense LongHashedRelation — comfortable on the
# sandbox driver and a mid-size executor; past it the fallback is a
# plain doc_id equi-join (one fat shuffle, which multiplies with
# per-node memory bandwidth on a real cluster).
EXACT_KEEP_BROADCAST_MAX = 8_000_000


def resolve_quota_salts(survivors: DataFrame, quota_k: int) -> int | None:
    """The quota-form decision made by per_doc_flags: ONE
    thin agg (the frame feeding the quota window is persisted upstream,
    so this materializes work the next action needs anyway —
    _component_layout's pattern) measures the hottest source AND the
    total survivor count.
    Two-phase triggers when either clears QUOTA_SALT_TARGET: a hot
    source because the single-phase window serializes it through one
    task, a large total because the single-phase ALL-rows output forces
    the fat frame through a doc_id reshuffle at join-back, where the
    two-phase output (<= #sources * quota_k rows) broadcasts. The salt
    count bounds every phase-1 window task near the target (floor 16,
    cap 1024); None means single-phase."""
    hot, total = (
        survivors.groupBy("source")
        .count()
        .agg(F.max("count").alias("m"), F.sum("count").alias("t"))
        .collect()[0]
    )
    hot, total = hot or 0, total or 0
    if hot <= QUOTA_SALT_TARGET and total <= QUOTA_SALT_TARGET:
        return None
    return int(min(1024, max(16, -(-hot // QUOTA_SALT_TARGET))))


def quota_keep_ids(
    survivors: DataFrame, quota_k: int, salts: int | None = None
) -> DataFrame:
    """Per-source quota keep-set over a (doc_id, source) frame: keep the
    quota_k rows per source that sort first under the deterministic
    (md5(doc_id), doc_id) shuffle order. Returns (doc_id, quota_keep).

    ``salts=None`` (default) is the single-phase exact window — one
    partition per source, right up to ~10^7 rows/source, after which a
    Zipf-hot crawl source serializes in one fat task that AQE cannot
    split (windows are not skew-splittable).

    ``salts=S`` is the exact TWO-PHASE form, the 100-TB shape:
      1. salt each row by pmod(xxhash64(doc_id), S) and take the local
         top-k per (source, salt) window — a hot source spreads over S
         partitions, and every row ranked > quota_k in its salt bucket
         is provably outside the global per-source top-k (its bucket
         already holds quota_k smaller keys);
      2. re-rank ONLY the surviving candidates (<= S*quota_k rows per
         source, bounded regardless of source size) in a per-source
         window and keep rn <= quota_k.

    OUTPUT CONTRACT: the two-phase form returns ONLY the kept rows
    (quota_keep always True) — a frame bounded by #sources * quota_k,
    usually broadcast-sized — and consumers must left-join and coalesce
    missing to False, which the quota stage already does. (Emitting the
    False rows too would need a full-corpus-width join back on doc_id;
    measured at 32M rows that join costs more than the skew it cures.)
    The single-phase form keeps the historical all-rows output. Both
    forms pick the identical keep SET (the order key is unique per row);
    equality is property-tested and the two-phase form is oracle-twinned
    (corpus_quota_two_phase)."""
    key = [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")]
    if not salts or salts <= 1:
        w = Window.partitionBy("source").orderBy(*key)
        return (
            survivors.withColumn("_rn", F.row_number().over(w))
            .select("doc_id", (F.col("_rn") <= quota_k).alias("quota_keep"))
        )
    w1 = Window.partitionBy("source", "_salt").orderBy(*key)
    cand = (
        survivors.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(salts))
        )
        .withColumn("_rn1", F.row_number().over(w1))
        .filter(F.col("_rn1") <= quota_k)
    )
    w2 = Window.partitionBy("source").orderBy(*key)
    return (
        cand.withColumn("_rn2", F.row_number().over(w2))
        .filter(F.col("_rn2") <= quota_k)
        .select("doc_id", F.lit(True).alias("quota_keep"))
    )


def _marker_hits(words, markers: list[str]):
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))


def _grams_col(wcol, k: int):
    """k-gram strings over a words-array column (space-joined windows) —
    the same gram values the DuckDB twin builds with list_transform."""
    return F.transform(
        F.sequence(F.lit(0), F.size(wcol) - k),
        lambda i: F.concat_ws(
            " ", *[F.element_at(wcol, i + j + 1) for j in range(k)]
        ),
    )


def _run_stats(arr):
    """One aggregate pass over a SORTED array returning struct(best,
    dup): best = longest run of equal consecutive elements (== max
    multiplicity of the multiset), dup = count of elements whose
    multiplicity is >= 2 (when a run reaches length 2 both members
    count, each further member adds 1).

    HOF discipline (the reason this is ONE aggregate, not an indexed
    transform): any outer expression referenced inside a HOF lambda body
    is re-evaluated PER ELEMENT — an earlier draft that probed neighbors
    with F.get(sorted_arr, i) re-ran the whole gram-build+sort for every
    index, turning the per-doc cost quadratic (measured: 75 s -> 494 s
    on the 2.4M-doc corpus). aggregate() evaluates its input array
    exactly once; the lambda touches only accumulator/element vars."""

    def step(acc, x):
        same = acc.prev.isNotNull() & (acc.prev == x)
        run = F.when(same, acc.run + F.lit(1)).otherwise(F.lit(1))
        dup = (
            F.when(same & (acc.run == F.lit(1)), acc.dup + F.lit(2))
            .when(same, acc.dup + F.lit(1))
            .otherwise(acc.dup)
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc.best, run).alias("best"),
            dup.alias("dup"),
        )

    return F.aggregate(
        arr,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
            F.lit(0).alias("dup"),
        ),
        step,
        lambda acc: F.struct(acc.best.alias("best"), acc.dup.alias("dup")),
    )


def quality_frame(docs: DataFrame) -> DataFrame:
    """Stages 0-4 (the per-doc map/agg filters: nonempty, langid, gopher,
    repetition, PII scrub) as one frame with cumulative flags s0..s3 +
    scrubbed text + redaction counts. This is the batch chain's front
    half — corpus-wide stages (dedup/quota/packing) stay out of it by
    design.

    Scale shape: ONE linear map over the corpus, zero shuffles. The
    repetition stats (C4/Gopher top-2-gram share + dup-3-gram fraction)
    are per-doc multiset statistics; the original form exploded every
    gram into two corpus-wide groupBy shuffles and joined the results
    back (three shuffles of gram-string keys). Since every gram of a doc
    lives in its own row, the same counts fall out of a sorted gram
    array map-side: max multiplicity = longest equal-run, multiplicity>1
    membership = run-length >= 2 (one ``_run_stats`` aggregate pass per
    gram order) — identical values (same integer ratios the DuckDB twin
    computes from its explode), computed only for s2 survivors via a
    conditional branch, embarrassingly parallel at any corpus size."""
    base = docs.select("doc_id", "source", "text")

    words = _words(F.col("text"))
    w = F.element_at(F.transform(F.array(words), lambda ws: ws), 1)  # let-bind

    s0 = F.trim(F.coalesce(F.col("text"), F.lit(""))) != ""
    en = _marker_hits(F.col("w"), MARKERS_EN)
    es = _marker_hits(F.col("w"), MARKERS_ES)
    n = F.size("w")
    sum_len = F.aggregate("w", F.lit(0), lambda acc, x: acc + F.length(x))
    mean_len = sum_len / F.greatest(n, F.lit(1))
    alpha_frac = F.size(F.filter("w", lambda x: x.rlike("[a-z]"))) / F.greatest(
        n, F.lit(1)
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct("w"), F.array(*[F.lit(s) for s in STOPWORDS_BI])
        )
    )
    scrub = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), PII_EMAIL, "<EMAIL>"),
            PII_PHONE,
            "<PHONE>",
        ),
        PII_IPV4,
        "<IP>",
    )
    n_red = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_EMAIL), F.lit(0)))
        + F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_PHONE), F.lit(0)))
        + F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_IPV4), F.lit(0)))
    )

    f0 = base.select(
        "doc_id",
        "source",
        w.alias("w"),
        s0.alias("s0"),
        scrub.alias("scrubbed"),
        n_red.alias("n_red"),
    ).select(
        "doc_id",
        "source",
        "w",
        "s0",
        "scrubbed",
        "n_red",
        (F.col("s0") & ((en > 0) | (es > 0))).alias("s1"),
        n.alias("n_words"),
        mean_len.alias("mean_len"),
        alpha_frac.alias("alpha_frac"),
        n_stop.alias("n_stop"),
    )
    f0 = f0.withColumn(
        "s2",
        F.col("s1")
        & (F.col("n_words") >= 10)
        & (F.col("n_words") <= 100000)
        & (F.col("mean_len") >= 2)
        & (F.col("mean_len") <= 10)
        & (F.col("alpha_frac") >= 0.8)
        & (F.col("n_stop") >= 2),
    )
    # stage 3: repetition stats, map-side (see docstring), computed only
    # for stage-2 survivors — the F.when branch evaluates conditionally,
    # so failing docs never pay the gram sort. s2 implies n_words >= 10,
    # so the gram sequences are always non-empty inside the branch.
    top2 = F.when(
        F.col("s2"),
        _run_stats(F.array_sort(_grams_col(F.col("w"), 2))).getField("best")
        / (F.col("n_words") - 1),
    )
    dup3 = F.when(
        F.col("s2"),
        _run_stats(F.array_sort(_grams_col(F.col("w"), 3))).getField("dup")
        / (F.col("n_words") - 2),
    )
    return (
        f0.withColumn("top2", top2)
        .withColumn("dup3", dup3)
        .withColumn(
            "s3",
            F.coalesce(
                F.col("s2") & (F.col("top2") <= 0.20) & (F.col("dup3") <= 0.30),
                F.lit(False),
            ),
        )
        .drop("w")
        .transform(scratch_persist)
    )


SEM_DEDUP_TAU = 0.9


def semantic_dedup_ids(
    docs: DataFrame, text_col: str = "text", tau: float = SEM_DEDUP_TAU
) -> DataFrame:
    """SemDeDup candidate-drop set (Abbas et al. 2023, public paper) over
    arbitrary text rows: embed each doc with the deterministic hash
    embedder (``extraction/embed.py``), generate candidate pairs with the
    multi-band sign-bucket LSH (disjoint dim slices — NEVER all-pairs,
    the same banded machinery as ``dedup.dedup_embedding_lsh``),
    cosine-verify at ``tau``, connected-components label, and return the
    doc_ids of every component member except its min — the rows to DROP.

    Complements MinHash: a reordered or lightly-rephrased document keeps
    most of its char-3-grams (cosine high) while its word-shingle Jaccard
    collapses below the MinHash threshold."""
    from facturas_spark.analytics.dedup import _emb_candidates_with_cosine
    from facturas_spark.extraction.embed import embed_udf

    emb = (
        docs.select("doc_id", embed_udf(F.col(text_col)).alias("embedding"))
        .filter(F.col("embedding").isNotNull())
        .transform(scratch_persist)
    )
    verified = (
        _emb_candidates_with_cosine(emb, "doc_id")
        .filter(F.col("_cos") >= tau)
        .select("id1", "id2")
        .distinct()  # kernel emits one row per colliding band (round 8)
    )
    labels = _min_label_components(verified)
    return labels.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")


def per_doc_flags(
    docs: DataFrame,
    quota_k: int = QUOTA_K,
    pack_budget: int = PACK_BUDGET,
    semantic_tau: float | None = None,
) -> DataFrame:
    """One row per input doc with cumulative stage-survival flags
    (s0..s7), the scrubbed text, PII span counts, and pack assignment.
    Columns: doc_id, source, s0..s3, n_red, s5, s6, sem_drop, s7,
    scrubbed, tokens, pack_id (packing cols only for final survivors).

    ``semantic_tau`` switches on the SemDeDup stage (Abbas et al. 2023):
    among near-dup (s6) survivors, docs whose hash-embedding cosine with
    an earlier survivor reaches tau are dropped (folded into s6;
    ``sem_drop`` marks them, all-false when off). Catches rephrasings and
    reorderings that keep shingle-Jaccard below the MinHash threshold —
    the FineWeb-style heuristics -> MinHash -> semantic chain.

    The chain persists its diamond joints (so the corpus is scanned once)
    and checkpoints its candidate and component frames as scratch: build
    AND consume the result inside one ``cache.scratch_scope``, which
    frees them on exit."""
    f1 = quality_frame(docs)

    # stage 5: exact dedup on the scrubbed fingerprint among s3 survivors.
    # The fat frame NEVER moves (round-7 directive 4; both prior forms —
    # thin-window + join-back-by-doc_id, then one fat window — profiled
    # FLAT ~11-13 s at 4 AND 16 cores on the 2.4M-doc sweep corpus,
    # because each shuffles every scrubbed text once and the stage is
    # allocation-bandwidth-bound, not CPU-bound). Instead: a THIN
    # min(doc_id)-per-fingerprint aggregate (partial map-side combine
    # shrinks the shuffle to one row per distinct fingerprint), whose
    # winner ids join back onto the fat frame. doc_ids are unique, so
    # membership in the winner set IS "minimum of my own group" — the
    # identical keep set. Join-back strategy is adaptive like
    # _component_layout: broadcast the winner ids below
    # EXACT_KEEP_BROADCAST_MAX (zero fat movement, the sandbox/sf case);
    # past it fall back to a plain doc_id equi-join — one fat shuffle,
    # which on a real cluster scales with per-node memory bandwidth.
    kept = scratch_persist(
        f1.filter(F.col("s3"))
        .select(F.md5("scrubbed").alias("_fp"), "doc_id")
        .groupBy("_fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(True).alias("_exact_keep"))
    )
    if kept.count() <= EXACT_KEEP_BROADCAST_MAX:
        kept = F.broadcast(kept)
    f2 = scratch_persist(
        f1.join(kept, "doc_id", "left")
        .withColumn("s5", F.col("s3") & F.coalesce("_exact_keep", F.lit(False)))
        .drop("_exact_keep")
    )

    # stage 6: near-dup LSH chain over the scrubbed text of s5 survivors
    sh = scratch_persist(_shingle_table(
        f2.filter(F.col("s5")).select("doc_id", F.col("scrubbed").alias("text"))
    ))
    cand = _lsh_candidate_pairs(sh)
    verified = _verified_pairs(sh, cand)
    labels = _min_label_components(verified)
    f3 = scratch_persist(f2.join(labels, "doc_id", "left").withColumn(
        "s6",
        F.col("s5")
        & (F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id"))),
    ))

    # optional stage 6b: SemDeDup over the s6 survivors' scrubbed text
    if semantic_tau is not None:
        sem = semantic_dedup_ids(
            f3.filter(F.col("s6")).select("doc_id", F.col("scrubbed").alias("text")),
            tau=semantic_tau,
        ).withColumn("sem_drop", F.lit(True))
        f3 = (
            f3.join(sem, "doc_id", "left")
            .withColumn("sem_drop", F.coalesce("sem_drop", F.lit(False)))
            .withColumn("s6", F.col("s6") & ~F.col("sem_drop"))
            .transform(scratch_persist)
        )
    else:
        f3 = f3.withColumn("sem_drop", F.lit(False))

    # stage 7: per-source quota among s6 survivors.
    # Skew note (the 100-TB shape): the single-phase window puts every
    # row of a source in ONE partition — a Zipf-hot crawl source (one
    # holding 30% of the corpus, say) serializes in a single fat task,
    # and AQE cannot split a window.
    # resolve_quota_salts measures the hottest source and switches to
    # the exact two-phase salted top-k past QUOTA_SALT_TARGET rows —
    # same keep set (property-tested), hot phase-1 tasks bounded near
    # the target, and a bonus at scale: the two-phase output is
    # <= #sources * quota_k rows, so the join-back below broadcasts
    # instead of reshuffling the fat frame by doc_id. See quota_keep_ids.
    surv_ids = f3.filter(F.col("s6")).select("doc_id", "source")
    salts = resolve_quota_salts(surv_ids, quota_k)
    quota = quota_keep_ids(surv_ids, quota_k, salts=salts)
    if salts and salts > 1:
        # two-phase output is provably <= #sources * quota_k rows —
        # broadcast it so the fat frame never reshuffles by doc_id
        quota = F.broadcast(quota)
    f4 = scratch_persist(f3.join(quota, "doc_id", "left").withColumn(
        "s7", F.col("s6") & F.coalesce("quota_keep", F.lit(False))
    ))

    # stage 8: token-budget packing of the final survivors: pack_id =
    # floor(tokens before the doc in doc_id order / budget). That running
    # sum splits exactly over contiguous doc_id ranges (Blelloch 1990):
    # each range's window sum plus the total of the ranges before it. The
    # ranges come from one thin min/max, so a doc's shard is a pure
    # function of doc_id and a recomputed stage sees the same shards.
    surv = f4.filter(F.col("s7")).select(
        "doc_id", F.size(_words(F.col("scrubbed"))).alias("tokens")
    ).transform(scratch_persist)
    lo, hi = surv.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    n = docs.sparkSession.sparkContext.defaultParallelism  # table_scan's fan-out
    width = -(-(hi - lo + 1) // n) if lo is not None else 1  # None: no survivor
    shard = F.expr(f"CAST((doc_id - {lo or 0}) div {width} AS INT)")
    totals = dict(surv.groupBy(shard.alias("_shard")).agg(F.sum("tokens")).collect())
    offsets = accumulate((totals.get(i) or 0 for i in range(n - 1)), initial=0)
    offset = F.array(*[F.lit(o).cast("bigint") for o in offsets])
    pw = Window.partitionBy("_shard").orderBy("doc_id")
    before = (
        F.element_at(offset, F.col("_shard") + 1)
        + F.sum("tokens").over(pw.rowsBetween(Window.unboundedPreceding, 0))
        - F.col("tokens")
    )
    packs = surv.withColumn("_shard", shard).select(
        "doc_id",
        "tokens",
        F.floor(before / pack_budget).cast("bigint").alias("pack_id"),
    )
    return f4.join(packs, "doc_id", "left").select(
        "doc_id",
        "source",
        "s0",
        "s1",
        "s2",
        "s3",
        "n_red",
        "s5",
        "s6",
        "sem_drop",
        "s7",
        "scrubbed",
        "tokens",
        "pack_id",
    )


def clean_funnel(flags: DataFrame) -> DataFrame:
    """Stage-by-stage funnel: one row per stage with docs_in/docs_out/
    dropped and a stage metric (PII spans redacted; packs created)."""
    i64 = lambda c: F.sum(F.col(c).cast("long"))  # noqa: E731
    agg = flags.agg(
        F.count("*").alias("total"),
        i64("s0").alias("c0"),
        i64("s1").alias("c1"),
        i64("s2").alias("c2"),
        i64("s3").alias("c3"),
        F.coalesce(
            F.sum(F.when(F.col("s3"), F.col("n_red")).otherwise(F.lit(0))), F.lit(0)
        ).alias("red"),
        i64("s5").alias("c5"),
        i64("s6").alias("c6"),
        i64("s7").alias("c7"),
        F.count_distinct(F.when(F.col("s7"), F.col("pack_id"))).alias("packs"),
    )
    rows = [
        ("0_nonempty", "total", "c0", None),
        ("1_langid", "c0", "c1", None),
        ("2_gopher", "c1", "c2", None),
        ("3_repetition", "c2", "c3", None),
        ("4_pii_scrub", "c3", "c3", "red"),
        ("5_dedup_exact", "c3", "c5", None),
        ("6_dedup_near", "c5", "c6", None),
        ("7_source_quota", "c6", "c7", None),
        ("8_packing", "c7", "c7", "packs"),
    ]
    stacked = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(stage).alias("stage"),
                        F.col(i).cast("long").alias("docs_in"),
                        F.col(o).cast("long").alias("docs_out"),
                        (F.col(i) - F.col(o)).cast("long").alias("dropped"),
                        (
                            F.col(m).cast("long") if m else F.lit(0).cast("long")
                        ).alias("metric"),
                    )
                    for stage, i, o, m in rows
                ]
            )
        ).alias("r")
    )
    return stacked.select("r.*")


def cleaned_corpus(flags: DataFrame) -> DataFrame:
    """The surviving corpus: scrubbed text + pack assignment, the frame
    the job writes out."""
    return (
        flags.filter(F.col("s7"))
        .select(
            "doc_id",
            "source",
            F.col("scrubbed").alias("text"),
            "tokens",
            "pack_id",
        )
        .orderBy("doc_id")
    )


def _tok_k(df: DataFrame, k: int) -> DataFrame:
    return df.select("doc_id", _words(F.col("text")).alias("w")).filter(
        F.size("w") >= k
    )


def contaminated_ids(
    docs: DataFrame, bench_docs: DataFrame, k: int = DECON_K
) -> DataFrame:
    """Benchmark-decontamination pre-filter for the clean job (GPT-3
    appendix C / PaLM, public papers): doc_ids of ``docs`` sharing any
    k-word n-gram with ``bench_docs`` (an eval-set table with a ``text``
    column).

    The bench side is its distinct k-gram fingerprints, small by nature
    (eval sets are thousands of docs), so it is broadcast: the corpus
    side stays a map pass + broadcast hash join + one doc_id distinct —
    no corpus shuffle."""
    # the bench side needs no stable id — only its fingerprint set
    bench_hashes = (
        _kgram_hashes(
            _tok_k(
                bench_docs.select(F.lit(0).cast("bigint").alias("doc_id"), "text"), k
            ),
            k,
        )
        .select("h")
        .distinct()
    )
    return (
        _kgram_hashes(_tok_k(docs, k), k)
        .join(F.broadcast(bench_hashes), "h")
        .select("doc_id")
        .distinct()
    )


def with_synth_pii(docs: DataFrame) -> DataFrame:
    """Deterministic PII-shaped suffixes: the synthetic corpus is
    PII-free, which would leave the
    scrub stage a wall of zeros; injecting email/phone/IP shapes on
    doc_id % 7/11/13 gives the scrub + count expressions real positive
    AND negative signal. Applied by the stats query and by the clean
    job's ``--synth-pii`` (which perfbench's clean probe passes)."""
    did = F.col("doc_id")
    t = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" contact: user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(F.lit(" tel: 612 345 "), F.lpad((did % 1000).cast("string"), 3, "0")),
        ).otherwise(F.lit("")),
        F.when(
            did % 13 == 0,
            F.concat(F.lit(" ip 10.0."), (did % 256).cast("string"), F.lit(".7")),
        ).otherwise(F.lit("")),
    )
    return docs.withColumn("text", t)


def corpus_clean_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: the full-corpus cleaning funnel, oracle-twinned.
    The flag frame (the whole chain's heavy lineage) is session-cached —
    materialized once per (session, sf), the same trade the component
    labels and the plato base make; the funnel is then one aggregate."""
    from facturas_spark.analytics.cache import session_cached

    # fan the single-row-group scan (guide §2.5) so the chain's tokenize/
    # shingle stages run at session parallelism during the one-time build
    flags = session_cached(
        spark,
        sf_dir,
        "corpus_clean_flags",
        lambda: per_doc_flags(
            with_synth_pii(_t(spark, sf_dir, "documents", fan_key="doc_id"))
        ),
    )
    return clean_funnel(flags).orderBy("stage")


def corpus_quota_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: the EXACT two-phase salted per-source quota
    (quota_keep_ids salts=4, k=8) over the documents table, aggregated to
    one (total, kept, min_kept_doc) row per source — and checked
    against a single-window DuckDB oracle, so the driver gate
    itself proves two-phase == single-phase == DuckDB on the identical
    input. This is the quota stage's 100-TB shape: a Zipf-hot source
    spreads over the salt partitions instead of serializing in one
    unsplittable window task (measured on a planted 60%-hot corpus:
    wall parity with the single window at 32M rows, hot-task footprint
    bounded at salts*k candidates instead of the whole source)."""
    docs = _t(spark, sf_dir, "documents")
    keep = quota_keep_ids(docs.select("doc_id", "source"), quota_k=8, salts=4)
    return (
        docs.select("doc_id", "source")
        .join(keep, "doc_id", "left")
        .withColumn("quota_keep", F.coalesce("quota_keep", F.lit(False)))
        .groupBy("source")
        .agg(
            F.count("*").alias("total"),
            F.sum(F.when(F.col("quota_keep"), 1).otherwise(0)).alias("kept"),
            F.min(F.when(F.col("quota_keep"), F.col("doc_id"))).alias(
                "min_kept_doc"
            ),
        )
        .orderBy("source")
    )
