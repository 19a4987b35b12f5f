"""Deduplication + matching operators exposed as oracle-checkable queries,
and the near-dup kernels the clean-corpus chain (``corpus_clean``) runs.

The queries are the SURVEY matching rows over TPC-H part names (M3, M4,
M5, M14), embedding near-dup over the ``embeddings`` table and the
URL/host filters over ``documents``. Everything here is expressible in
both Spark SQL and DuckDB so the driver's oracle gate covers it.

Portability note: MinHash normally uses an integer hash family; DuckDB
can't parse hex -> int without extensions, so the hash family is
``min(md5(shingle || ':' || i))`` under LEXICOGRAPHIC order — md5 hex
strings are uniformly distributed, so the min-string is a valid MinHash
permutation stand-in, and both engines produce identical signatures.

Tables are read through ``cache.table_scan``; the queries whose per-row
work is fused into the scan pass its ``fan_key``, so a big
single-row-group table is repartitioned to the session's parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from facturas_spark.analytics.cache import table_scan as _t
from facturas_spark.analytics.queries import _r

N_HASHES = 8  # MinHash signature length
N_BANDS = 4   # LSH bands (2 rows per band)


def _words(col):
    return F.filter(
        F.split(F.lower(F.trim(F.coalesce(col, F.lit("")))), r"\s+"),
        lambda x: x != F.lit(""),
    )


def m3_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 demo: edit distance between consecutive part names (built-in
    levenshtein, both engines); keys restricted so output stays small."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 100)
    a = part.select(F.col("p_partkey").alias("k1"), F.col("p_name").alias("n1"))
    b = part.select(F.col("p_partkey").alias("k2"), F.col("p_name").alias("n2"))
    return (
        a.join(b, a.k1 + 1 == b.k2)
        .select("k1", "k2", F.levenshtein("n1", "n2").alias("lev"))
        .orderBy("k1")
    )


def m5_product_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 word-overlap matcher over part-name pairs (key<=200, k1<k2),
    returning only matching pairs — the fuzzy-join primitive.

    Candidate generation is the reference's own M2 keyword pre-join
    (process-invoice/index.ts:2459-2480): explode each name's distinct
    len>2 keywords, equi-join on keyword, dedupe pairs — then verify with
    the full M5 predicate. Complete by construction: M5's overlap branch
    requires >=1 shared len>2 word, and its exact-equality branch is
    covered by a normalized-name equi-join union. No theta/cross join
    anywhere, so the same plan survives an unbounded catalog (pair cost =
    sum of per-keyword group sizes squared, not N^2)."""
    from facturas_spark.matching.similarity import (
        comparar_productos_expr,
        norm_desc_expr,
    )

    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    base = part.select(
        F.col("p_partkey").alias("k"),
        F.col("p_name").alias("n"),
        norm_desc_expr(F.col("p_name")).alias("nn"),
    )
    kw = base.select(
        "k",
        F.explode(
            F.array_distinct(
                F.filter(F.split("nn", " "), lambda w: F.length(w) > 2)
            )
        ).alias("kw"),
    )
    cand_kw = (
        kw.select("kw", F.col("k").alias("k1"))
        .join(kw.select("kw", F.col("k").alias("k2")), "kw")
        .filter(F.col("k1") < F.col("k2"))
        .select("k1", "k2")
    )
    cand_eq = (
        base.select("nn", F.col("k").alias("k1"))
        .join(base.select("nn", F.col("k").alias("k2")), "nn")
        .filter(F.col("k1") < F.col("k2"))
        .select("k1", "k2")
    )
    cand = cand_kw.unionByName(cand_eq).distinct()
    return (
        cand.join(base.select(F.col("k").alias("k1"), F.col("n").alias("n1")), "k1")
        .join(base.select(F.col("k").alias("k2"), F.col("n").alias("n2")), "k2")
        .filter(comparar_productos_expr(F.col("n1"), F.col("n2")))
        .select("k1", "k2")
        .orderBy("k1", "k2")
    )


def m4_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 calculateStringSimilarity oracle-hashed (exact reference rule
    order, process-invoice/index.ts:2526-2561): per word1 the FIRST word2
    (in array order) matching ANY rule contributes that pair's rule value
    evaluated in rule order — exact=1; containment with both len>3=0.8;
    |Δlen|<=2 and (containment or lev<=2)=0.6 — and the scan breaks.
    Score = sum(matches) / max(|w1|,|w2|) over len>2 words. Consecutive
    part-name pairs (key<=150); JVM higher-order functions + built-in
    levenshtein, same shape in the DuckDB twin."""
    from facturas_spark.matching.similarity import norm_desc_expr

    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 150)
    a = part.select(F.col("p_partkey").alias("k1"), F.col("p_name").alias("n1"))
    b = part.select(F.col("p_partkey").alias("k2"), F.col("p_name").alias("n2"))
    pairs = a.join(b, a.k1 + 1 == b.k2)
    w = lambda c: F.filter(  # noqa: E731
        F.split(norm_desc_expr(F.col(c)), " "), lambda x: F.length(x) > 2
    )

    def rule_match(w1, w2):
        contain = (
            (F.length(w1) > 3) & (F.length(w2) > 3)
            & (w2.contains(w1) | w1.contains(w2))
        )
        near = (
            (F.abs(F.length(w1) - F.length(w2)) <= 2)
            & (
                F.when(
                    F.length(w1) > F.length(w2), w1.contains(w2)
                ).otherwise(w2.contains(w1))
                | (F.levenshtein(w1, w2) <= 2)
            )
        )
        return (w1 == w2) | contain | near

    def rule_value(w1, w2):
        contain = (
            (F.length(w1) > 3) & (F.length(w2) > 3)
            & (w2.contains(w1) | w1.contains(w2))
        )
        return (
            F.when(w1 == w2, F.lit(1.0))
            .when(contain, F.lit(0.8))
            .otherwise(F.lit(0.6))
        )

    def score(c1, c2):
        # let-bind both word arrays (evaluated once per row each)
        return F.try_element_at(
            F.zip_with(
                F.array(w(c1)),
                F.array(w(c2)),
                lambda ws1, ws2: F.when(
                    (F.size(ws1) == 0) | (F.size(ws2) == 0), F.lit(0.0)
                ).otherwise(
                    F.aggregate(
                        ws1,
                        F.lit(0.0),
                        lambda acc, w1: acc
                        + F.coalesce(
                            rule_value(
                                w1,
                                F.try_element_at(
                                    F.filter(ws2, lambda w2: rule_match(w1, w2)),
                                    F.lit(1),
                                ),
                            )
                            * F.when(
                                F.try_element_at(
                                    F.filter(ws2, lambda w2: rule_match(w1, w2)),
                                    F.lit(1),
                                ).isNotNull(),
                                F.lit(1.0),
                            ),
                            F.lit(0.0),
                        ),
                    )
                    / F.greatest(F.size(ws1), F.size(ws2))
                ),
            ),
            F.lit(1),
        )

    return (
        pairs.select(
            "k1",
            "k2",
            _r(score("n1", "n2"), 4).alias("similitud"),
        )
        .orderBy("k1")
    )


def m14_duplicate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M14 duplicate detection: same (custkey, orderdate) seen >1 time —
    the reference's CIF+numero_factura equality check shape."""
    orders = _t(spark, sf_dir, "orders", fan_key="o_orderkey")
    return (
        orders.groupBy("o_custkey", F.to_date("o_orderdate").alias("fecha"))
        .agg(F.count("*").alias("copies"), F.min("o_orderkey").alias("first_key"))
        .filter(F.col("copies") > 1)
        .orderBy("o_custkey", "fecha")
    )


def _shingle_table(docs: DataFrame) -> DataFrame:
    """Per-doc distinct word-3-gram shingle sets: (doc_id, sh array<string>).
    Docs with <3 words have no shingles and are dropped (Jaccard undefined).

    The tokenization is LET-BOUND via a 1-element transform: referencing
    the ``words`` split expression directly inside the per-shingle lambda
    re-evaluates the whole split once per element_at per position (no CSE
    across higher-order functions — measured 3.5x slower at sf0.1);
    binding it to a lambda variable evaluates it once per row."""
    words = _words(F.col("text"))

    def shingles_of(w):
        # valid shingle starts: i in [0, |w|-3] (1-based element_at below)
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(w, i + 1),
                    F.element_at(w, i + 2),
                    F.element_at(w, i + 3),
                ),
            )
        )

    shingles = F.element_at(F.transform(F.array(words), shingles_of), 1)
    return (
        docs.select("doc_id", F.size(words).alias("_w"), shingles.alias("sh"))
        .filter(F.col("_w") >= 3)
        .drop("_w")
    )


def _jaccard(s1, s2):
    return F.size(F.array_intersect(s1, s2)) / F.size(F.array_union(s1, s2))


# Pair count above which the component loop leaves the single-partition
# broadcast layout for the N-way co-partitioned one.
COMPONENT_AUTO_THRESHOLD = 200_000


def _component_layout(pairs: DataFrame) -> tuple[DataFrame, int | None]:
    """Materialize the pair graph at its own parallelism and resolve the
    component-loop layout. The eager checkpoint is load-bearing twice
    over: (a) the sandbox layout collapses to coalesce(1), which is NOT
    a shuffle boundary — without the checkpoint the entire upstream LSH
    Jaccard-verify DAG would execute inside that one merged task (found
    by the round-6 shuffle sweep: dedup wall flat 16->32 cores; sf3
    29 s -> 14 s fixed); (b) it makes the pair COUNT a near-free job,
    which funds the adaptive layout choice.

    Layout: count the materialized pairs — small graphs
    (<= COMPONENT_AUTO_THRESHOLD pairs) take the single-partition
    broadcast loop (None; each round a handful of tasks — right for the
    sandbox's sparse near-dup graphs); larger graphs switch to the N-way
    co-partitioned shuffle-join layout with N ~ pairs/100k capped at
    spark.sql.shuffle.partitions, so a 100-TB crawl's billion-edge graph
    never funnels its loop rounds through one task. Both layouts produce
    identical labels (property-pinned)."""
    from facturas_spark.analytics.cache import tracked_checkpoint

    pairs = tracked_checkpoint(pairs)
    n = pairs.count()
    if n <= COMPONENT_AUTO_THRESHOLD:
        return pairs, None
    cap = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return pairs, max(2, min(cap, n // max(1, COMPONENT_AUTO_THRESHOLD // 2)))


def _min_label_components(pairs: DataFrame) -> DataFrame:
    """Connected components over an (id1, id2) pair graph via iterative
    min-label propagation to a fixpoint. Returns (doc_id, cluster_id) for
    every node in >=1 pair; cluster_id = the component's min doc_id.

    Scale shape: each iteration is one shuffle on the node id (join +
    min-agg); convergence in O(diameter) rounds — near-dup components are
    shallow (dups of dups), so 3-5 rounds in practice. Each round is
    ``localCheckpoint``ed, which BOTH materializes the round and truncates
    the logical plan — with persist() alone the plan nests one AQE subtree
    per round and Catalyst re-analyzes the whole stack on every later
    action (measured: 3-36 s to collect a 24-row cached result).

    ``_component_layout`` picks the layout from the materialized pair
    count:
    - single-partition broadcast loop (small graphs): the pair graph is
      tiny relative to the corpus (near-dups are rare), so collapse to
      one partition and broadcast the label side — each round is a
      handful of tasks.
    - N-way co-partitioned (large graphs): hash-partition
      edges and labels on the node id into N partitions and use plain
      shuffle joins — every round is an N-way parallel co-partitioned
      join, no single-task stage and no assumption the label table fits
      in one executor. Swap
      localCheckpoint for reliable ``checkpoint()`` when executor loss
      must be survivable (needs a checkpoint dir; plan shape identical).
    Both paths run the same loop body and produce identical labels
    (pinned by tests/test_dedup_chain.py)."""
    from facturas_spark.analytics.cache import (
        free_block_ids,
        tracked_checkpoint_ids,
    )

    pairs, partitions = _component_layout(pairs)
    spark = pairs.sparkSession

    def _layout(df: DataFrame, key: str) -> tuple[DataFrame, list[int]]:
        laid = (
            df.coalesce(1)
            if partitions is None
            else df.repartition(partitions, key)
        )
        return tracked_checkpoint_ids(laid)

    def _maybe_broadcast(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if partitions is None else df

    und, und_ids = _layout(
        pairs.unionByName(
            pairs.select(F.col("id2").alias("id1"), F.col("id1").alias("id2"))
        ).toDF("src", "dst"),
        "dst",  # partition edges by dst: co-located with labels(doc_id)
    )
    labels, prev_ids = _layout(
        und.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id")),
        "doc_id",
    )
    while True:
        neigh = (
            und.join(_maybe_broadcast(labels), und.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("label").alias("_nl"))
        )
        merged, m_ids = _layout(
            labels.join(_maybe_broadcast(neigh), labels.doc_id == neigh.src, "left")
            .select(
                "doc_id",
                F.col("label").alias("_old"),
                F.least(
                    F.col("label"), F.coalesce(F.col("_nl"), F.col("label"))
                ).alias("label"),
            ),
            "doc_id",
        )
        changed = merged.filter(F.col("label") != F.col("_old")).count()
        labels = merged.drop("_old")
        # the superseded round's label blocks are unreferenced the moment
        # this round's checkpoint materializes — free them NOW so the
        # loop's block footprint is two rounds, not O(rounds) (they stay
        # on the scope/ledger too; the late double-free is a no-op)
        free_block_ids(spark, prev_ids)
        prev_ids = m_ids
        if changed == 0:
            break
    # the returned plan reads only the FINAL label checkpoint
    free_block_ids(spark, und_ids)
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


LSH_JACCARD_THRESHOLD = 0.5


def _band_table(sh: DataFrame) -> DataFrame:
    """MinHash LSH band table of a shingle table: 8 min-hash signatures ->
    4 bands x 2 rows -> explode to one (doc_id, band, key) row per band.
    The candidate-generation kernel of the clean-corpus chain's near-dup
    stage (``corpus_clean.per_doc_flags``).

    Each signature is the md5 hex-string min under lexicographic order,
    the value DuckDB computes too, so the ``corpus_clean_stats`` twin
    covers the chain end-to-end."""

    def sig(i: int):
        suffix = f":{i}"
        h = lambda s: F.md5(F.concat(s, F.lit(suffix)))  # noqa: E731
        return F.array_min(F.transform(F.col("sh"), h)).alias(f"h{i}")

    def band_key(j: int):
        lo, hi = F.col(f"h{2 * j}"), F.col(f"h{2 * j + 1}")
        return F.md5(F.concat(lo, hi))

    return (
        sh.select("doc_id", *[sig(i) for i in range(N_HASHES)])
        .select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("band"),
                            band_key(j).alias("key"),
                        )
                        for j in range(N_BANDS)
                    ]
                )
            ).alias("b"),
        )
        .select("doc_id", "b.band", "b.key")
    )


def _verified_pairs(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """Jaccard-verify candidate pairs against their shingle sets:
    semi-join-prune the shingle table to docs that appear in >=1 pair,
    then fetch both sides' sets and keep pairs at/above the threshold.

    The prune is the scale move: candidates are SPARSE relative to the
    corpus (banded LSH emits ~true-dup-proportional pairs), while the
    shingle column is the FAT payload — without the prune both id-joins
    shuffle the entire corpus's shingle arrays (2.6 GiB at the 2.4M-doc
    sweep corpus; measured 10.7 s -> 2.7 s at 32 cores with the prune).
    Results are identical: pruned rows are exactly those the inner joins
    would drop. The broadcast hint on the id set is deliberate, not
    left to AQE: the semi-join's big side is an independent query stage
    that AQE submits BEFORE the distinct's true (tiny) size is known, so
    without the hint the initial sort-merge plan shuffles the fat
    shingle column anyway (measured: verify 2.7 s hinted vs 11 s
    AQE-planned at 32 cores). Candidate ids are bounded by 2x the
    verified-dup rate times the corpus — at dup rates where that
    outgrows executor memory, drop the hint and pre-partition both
    sides on doc_id instead (plan shape stays a key semi-join).

    The eager checkpoint on the candidate frame is load-bearing: cand is
    referenced three times below (two id projections + the join's probe
    side), and under AQE the nested broadcast query stages do NOT reuse
    the exchange across those references — the whole candidate DAG
    (minhash + band self-join + distinct) re-executes per reference,
    measured as a >10x wall blowup on the 2.4M-doc sweep corpus. Same
    materialize-the-small-frame trade _min_label_components makes with
    its pair graph; candidates are dup-rate-bounded, so this is a few
    MB per million docs."""
    from facturas_spark.analytics.cache import tracked_checkpoint

    cand = tracked_checkpoint(cand)
    ids = (
        cand.select(F.col("id1").alias("doc_id"))
        .unionByName(cand.select(F.col("id2").alias("doc_id")))
        .distinct()
    )
    shp = sh.join(F.broadcast(ids), "doc_id", "semi")
    s1 = shp.select(F.col("doc_id").alias("id1"), F.col("sh").alias("s1"))
    s2 = shp.select(F.col("doc_id").alias("id2"), F.col("sh").alias("s2"))
    return (
        cand.join(s1, "id1")
        .join(s2, "id2")
        .filter(_jaccard("s1", "s2") >= LSH_JACCARD_THRESHOLD)
        .select("id1", "id2")
    )


def _lsh_candidate_pairs(sh: DataFrame) -> DataFrame:
    """Candidate pairs from MinHash band collisions over a shingle table:
    band table self equi-join on (band, key) -> distinct (id1 < id2) pairs.

    Exposed as a unit so tests/test_plans.py can pin the property the
    100-TB chain depends on: candidates come ONLY from this banded
    equi-join — never an all-pairs/theta join over the corpus."""
    bands = _band_table(sh)
    a = bands.select("band", "key", F.col("doc_id").alias("id1"))
    b = bands.select("band", "key", F.col("doc_id").alias("id2"))
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: vector pairs (id<80, id1<id2) with
    cosine >= 0.2 — the semantic-dedup primitive over array<float>.
    JVM-side aggregate/zip_with; brute-force quadratic on the small window
    (the scale path is banded LSH, see dedup_embedding_lsh)."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 80)
    a = emb.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("e1"))
    b = emb.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("e2"))
    pairs = a.join(b, a.id1 < b.id2)
    cos = _cosine_small("e1", "e2")
    return (
        pairs.select("id1", "id2", F.round(cos, 4).alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.2)
        .orderBy("id1", "id2")
    )


EMB_FAST_DIM = 64  # the corpus embedding width (every synth sf emits 64-dim)


_EXPR_MEMO: dict = {}


def _memo_expr(key: tuple, sql: str):
    """Build a Column from SQL once per (shape, operands): the unrolled
    kernels below are ~64-term trees, and constructing them node-by-node
    through the py4j Column API costs 2-4 s of driver round-trips PER
    QUERY BUILD (the round-8 profile's hidden fixed cost). One F.expr
    parse is milliseconds, and the parsed Column is reusable across
    DataFrames (unresolved attributes bind by name at each use site)."""
    col = _EXPR_MEMO.get(key)
    if col is None:
        col = F.expr(sql)
        _EXPR_MEMO[key] = col
    return col


def _dot(a: str, b: str):
    """Dot product, fast path: Spark's higher-order functions are NOT
    whole-stage-codegen'd (per-element lambda interpretation dominated the
    cosine-verify stages in the round-8 profile), so when both vectors
    have the corpus width the sum is UNROLLED into a flat 64-term
    expression — bit-identical to the fold (same left-to-right addition
    order starting from 0.0, same per-element double casts) but compiled
    by codegen. Other widths (short test vectors) take the fold."""
    terms = " + ".join(
        f"CAST(element_at(`{a}`, {i}) AS DOUBLE)"
        f" * CAST(element_at(`{b}`, {i}) AS DOUBLE)"
        for i in range(1, EMB_FAST_DIM + 1)
    )
    fold = (
        f"aggregate(zip_with(`{a}`, `{b}`,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, v) -> acc + v)"
    )
    return _memo_expr(
        ("dot", a, b),
        f"CASE WHEN size(`{a}`) = {EMB_FAST_DIM}"
        f" AND size(`{b}`) = {EMB_FAST_DIM}"
        f" THEN 0.0D + {terms} ELSE {fold} END",
    )


def _norm2(c: str):
    """Sum of squares with the same unrolled fast path as :func:`_dot`."""
    terms = " + ".join(
        f"(CAST(element_at(`{c}`, {i}) AS DOUBLE)"
        f" * CAST(element_at(`{c}`, {i}) AS DOUBLE))"
        for i in range(1, EMB_FAST_DIM + 1)
    )
    fold = (
        f"aggregate(`{c}`, 0.0D,"
        " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"
    )
    return _memo_expr(
        ("norm2", c),
        f"CASE WHEN size(`{c}`) = {EMB_FAST_DIM}"
        f" THEN 0.0D + {terms} ELSE {fold} END",
    )


def _cosine_small(a: str, b: str):
    """Fold-form cosine for the BOUNDED windows (dedup_embedding_cosine's
    vec_id<80, nlsql.q15_semantic_ranked's 20 candidates): their pair
    counts are fixed at every sf, so the unrolled fast path buys no
    runtime there while its ~400-node tree taxes every analyzer/optimizer
    pass. Value-identical to ``_dot(a, b) / (sqrt(_norm2(a)) *
    sqrt(_norm2(b)))`` (same left-fold addition order, same casts)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            c, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    return dot / (norm(F.col(a)) * norm(F.col(b)))


N_EMB_BANDS = 4
EMB_BAND_BITS = 8


def _emb_band_key(col: str, band: int, bits: int = EMB_BAND_BITS):
    """Sign bucket of band ``band``: bit i = sign of dim band*bits+i.
    Each band reads a DISJOINT dim slice, so the b keys are independent
    hyperplane projections (the r-bit, b-band LSH family)."""
    bucket = None
    for i in range(bits):
        dim = band * bits + i
        bit = F.when(F.element_at(col, dim + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket


def _emb_band_table(emb: DataFrame, id_col: str) -> DataFrame:
    """(id, band, key) sign-bucket LSH index of an embedding frame, for
    the candidate kernel below: each of the N_EMB_BANDS bands reads a
    disjoint EMB_BAND_BITS-dim slice, vectors shorter than a band's slice
    simply skip that band."""
    entries = F.array(
        *[
            F.when(
                F.size("embedding") >= EMB_BAND_BITS * (j + 1),
                F.struct(
                    F.lit(j).alias("band"),
                    _emb_band_key("embedding", j).alias("key"),
                ),
            )
            for j in range(N_EMB_BANDS)
        ]
    )
    return emb.select(
        id_col,
        F.explode(F.filter(entries, lambda s: s.isNotNull())).alias("b"),
    ).select(id_col, "b.band", "b.key")


def _emb_candidates_with_cosine(emb: DataFrame, id_col: str) -> DataFrame:
    """Shared kernel of embedding near-dup (dedup_embedding_lsh) and the
    clean job's SemDeDup stage: multi-band sign-bucket LSH candidates
    (disjoint dim slices, join key (band, key) — never all-pairs) with
    the exact cosine of every candidate pair. ``emb`` carries
    (id_col, embedding); returns (id1, id2, _cos) with id1 < id2.
    Norms are precomputed ONCE PER VECTOR and carried through the join;
    callers apply their own threshold/rounding so the oracle-pinned
    query and the job stage share one set of expressions.

    A pair colliding in SEVERAL bands is emitted once per band, with the
    identical _cos each time — callers dedup AFTER their threshold
    filter. Round 8 (guide §2.3): the old pre-cosine ``distinct`` was a
    full exchange of every candidate pair (3.1M rows at sf1.0) that
    removed only the ~0.6% multi-band duplicates; deduping the filtered
    survivors instead shuffles ~6x fewer rows for ~0.6% duplicated
    cosine arithmetic."""
    bands = _emb_band_table(emb, id_col)
    a = bands.select("band", "key", F.col(id_col).alias("id1"))
    b = bands.select("band", "key", F.col(id_col).alias("id2"))
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
    )
    norm = F.sqrt(_norm2("embedding"))
    e1 = emb.select(
        F.col(id_col).alias("id1"), F.col("embedding").alias("e1"), norm.alias("n1")
    )
    e2 = emb.select(
        F.col(id_col).alias("id2"), F.col("embedding").alias("e2"), norm.alias("n2")
    )
    dot = _dot("e1", "e2")
    return (
        cand.join(e1, "id1")
        .join(e2, "id2")
        .select("id1", "id2", (dot / (F.col("n1") * F.col("n2"))).alias("_cos"))
    )


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup at SCALE: candidate pairs from MULTI-BAND
    sign-bucket LSH (b=4 independent 8-bit projections over disjoint dim
    slices), cosine verify runs once per distinct candidate pair — the
    end-to-end composition that replaces dedup_embedding_cosine's
    all-pairs join, over the full embeddings table.

    Why banded (round-2 verdict fix): one 8-bit bucket caps the join at
    256 distinct keys — max 256-way parallelism and giant skewed buckets
    in dense regions at 10^9 vectors. Banding multiplies key cardinality
    to b*2^r (and recall to 1-(1-p^r)^b); the join key is (band, key), so
    the shuffle spreads over 1024 keys here and tunes arbitrarily via
    (b, r) at scale. Bands past the vector's length are not emitted
    (short vectors participate only in the slices they populate)."""
    emb = _t(spark, sf_dir, "embeddings", fan_key="vec_id")
    return (
        _emb_candidates_with_cosine(emb.select("vec_id", "embedding"), "vec_id")
        .select("id1", "id2", F.round("_cos", 4).alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.2)
        .distinct()  # multi-band collisions carry identical cos_sim
        .orderBy("id1", "id2")
    )


DECON_K = 13  # GPT-3-appendix-C n-gram width


def _kgram_hashes(df: DataFrame, k: int) -> DataFrame:
    """(doc_id, h) rows: md5 fingerprint of every k-word window of
    column ``w`` (a pre-tokenized array), for the clean job's
    decontamination pre-filter (``corpus_clean.contaminated_ids``)."""
    win = lambda i: F.md5(  # noqa: E731
        F.concat_ws(" ", F.slice("w", i + 1, k))
    )
    return df.select(
        "doc_id",
        F.explode(
            F.transform(F.sequence(F.lit(0), F.size("w") - k), win)
        ).alias("h"),
    )


def url_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-quality rule bank (C4/RefinedWeb/UT1-style corpus URL cuts,
    public practice) over a deterministic URL synthesized from doc_id —
    the same both-engines synthesis precedent as iva_tipos_breakdown.
    The Spark side PARSES the url with the production expression bank
    (``sources/urlfilter.url_quality_flags``: host extraction, keyword
    scan, param count, extension cut); the DuckDB twin derives each flag
    from the construction arithmetic — an independent ground truth, so a
    host-parsing or rule regression on the Spark side hash-mismatches.

    Pure map stage (no UDF, no shuffle beyond the presentation sort);
    at 100 TB this fuses into the page scan."""
    from facturas_spark.sources.urlfilter import url_quality_flags

    docs = _t(spark, sf_dir, "documents", fan_key="doc_id").select("doc_id")
    d = F.col("doc_id")
    host = (
        F.when(d % 10 == 0, F.lit("ads.tracker.net"))
        .when(d % 10 == 1, F.lit("casino-spins.com"))
        .otherwise(
            F.concat(F.lit("site"), (d % 50).cast("string"), F.lit(".example.com"))
        )
    )
    path = F.when(d % 7 == 0, F.lit("/signup/item")).otherwise(
        F.concat(F.lit("/articles/item"), d.cast("string"))
    )
    ext = (
        F.when(d % 5 == 0, F.lit(".jpg"))
        .when(d % 5 == 1, F.lit(".html"))
        .otherwise(F.lit(""))
    )
    qs = F.when(d % 11 == 0, F.lit("?utm=1&ref=2&sid=3&track=4&a=5")).otherwise(
        F.lit("")
    )
    pages = docs.withColumn(
        "url", F.concat(F.lit("https://"), host, path, ext, qs)
    )
    return url_quality_flags(pages).select(
        "doc_id",
        "url",
        "blocked_host",
        "blocked_path",
        "too_many_params",
        "bad_ext",
        "too_long",
        "url_keep",
    ).orderBy("doc_id")


def dedup_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-by-canonical-URL (C4's URL normalization pass, public
    practice): messy URL variants synthesized from doc_id — trailing
    slash, utm_*/ref tracking params, #fragment, uppercased scheme+host
    with a default :443 port — are canonicalized by the production
    ``sources/urlfilter.normalize_url`` expression, and each canonical
    group keeps its min doc_id. The DuckDB twin emits the canonical form
    and keep-set straight from the construction arithmetic — independent
    ground truth for every normalization rule at once.

    One hash shuffle on the canonical URL (the min-window); the
    normalization itself is a pure map."""
    from facturas_spark.sources.urlfilter import normalize_url

    docs = _t(spark, sf_dir, "documents", fan_key="doc_id").select("doc_id")
    d = F.col("doc_id")
    g = (d % 100).cast("string")
    core = F.concat(F.lit("site"), g, F.lit(".example.com/page"), g)
    v = d % 5
    url = (
        F.when(v == 0, F.concat(F.lit("https://"), core))
        .when(v == 1, F.concat(F.lit("https://"), core, F.lit("/")))
        .when(
            v == 2,
            F.concat(F.lit("https://"), core, F.lit("?utm_source=x&utm_campaign=y&ref=z")),
        )
        .when(v == 3, F.concat(F.lit("https://"), core, F.lit("#section2")))
        .otherwise(
            F.concat(
                F.lit("HTTPS://SITE"), g, F.lit(".EXAMPLE.COM:443/page"), g
            )
        )
    )
    w = Window.partitionBy("url_norm")
    return (
        # materialize the messy url FIRST: normalize_url references its
        # input ~15x (scheme probe, parser loan, component parses), and
        # inlining the CASE tree into every reference multiplies the
        # whole expression — a column reference keeps it flat
        docs.withColumn("url", url)
        .withColumn("url_norm", normalize_url(F.col("url")))
        .withColumn("keep", F.col("doc_id") == F.min("doc_id").over(w))
        .select("doc_id", "url_norm", "keep")
        .orderBy("doc_id")
    )


def host_reputation_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level reputation cut (RefinedWeb-style host filtering,
    public practice): per-host keep-rate of a per-doc quality proxy
    (n_chars >= 200), hosts below 0.5 drop ALL their docs. The
    aggregate-then-join-back shape is the point: host scores are a tiny
    dim (one row per host) — broadcast back onto the corpus, so the
    corpus itself shuffles once on host for the rate and never again."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    host = F.concat(F.lit("h"), (F.col("doc_id") % 20).cast("string"))
    # NULL n_chars counts as NOT-ok (0), matching the oracle's CASE; a
    # bare boolean cast would yield NULL, which avg() silently skips and
    # the engines would diverge on corpora with missing n_chars
    base = docs.withColumn("host", host).withColumn(
        "doc_ok", F.when(F.col("n_chars") >= 200, 1).otherwise(0)
    )
    rates = base.groupBy("host").agg(
        F.round(F.avg("doc_ok"), 4).alias("host_rate")
    )
    return (
        base.join(F.broadcast(rates), "host")
        .select(
            "doc_id",
            "host",
            "host_rate",
            (F.col("host_rate") >= 0.5).alias("host_keep"),
        )
        .orderBy("doc_id")
    )
