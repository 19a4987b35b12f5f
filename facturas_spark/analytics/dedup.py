"""Deduplication + matching operators exposed as oracle-checkable queries.

Training-data-pipeline staples over the ``documents`` table plus
fuzzy-matching demos over TPC-H part names. Everything here is expressible
in both Spark SQL and DuckDB so the driver's oracle gate covers it.

Portability note: MinHash normally uses an integer hash family; DuckDB
can't parse hex -> int without extensions, so the hash family is
``min(md5(token || ':' || i))`` under LEXICOGRAPHIC order — md5 hex strings
are uniformly distributed, so the min-string is a valid MinHash permutation
stand-in, and both engines produce identical signatures. SimHash similarly
uses md5-derived hex-nibble bits (see simhash_expr).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from facturas_spark.analytics.cache import scratch_persist
from facturas_spark.analytics.cache import table_scan as _t

N_HASHES = 8  # MinHash signature length
N_BANDS = 4   # LSH bands (2 rows per band)


_FAN_MEMO: dict[tuple, bool] = {}

# Fan-out only pays when the single-task scan carries real work: below a
# few MB the repartition exchange costs more than it parallelizes
# (measured at sf0.1: ~+0.2 s per query for no gain). The splits<cores
# guard already disables fan-out entirely once inputs arrive in many
# splits.
FAN_MIN_BYTES = 4 << 20


def _table_bytes(sf_dir: str, name: str) -> int:
    """On-disk bytes of a table path — file, or recursive directory walk
    (hive-partitioned datasets nest files under partition dirs, which a
    flat listdir would count as ~4 KB inodes)."""
    path = f"{sf_dir}/{name}.parquet"
    try:
        if not os.path.isdir(path):
            return os.path.getsize(path)
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total
    except OSError:
        return 0


def _table_big(sf_dir: str, name: str) -> bool:
    """Size-only half of the fan gate — also the right predicate for
    choosing per-row KERNELS (e.g. the unrolled cosine), where split
    count is irrelevant: a big table deserves the fast kernel whether or
    not its scan also needs a repartition."""
    return _table_bytes(sf_dir, name) >= FAN_MIN_BYTES


def _scan_effective_parallelism(
    spark: SparkSession, sf_dir: str, name: str
) -> int:
    """How many tasks can actually produce rows from this table's scan.
    Spark's planned split count is size/maxPartitionBytes, but parquet
    delivers rows at ROW-GROUP granularity — a 600 MB single-row-group
    file plans ~5 splits yet only ONE task gets rows. When the dataset
    has fewer files than cores, cap the planned count by the total
    row-group count (footers of a handful of files are cheap to read);
    with >= cores files every file carries >= 1 row group, so the scan
    is already at least cores-wide and the planned count stands."""
    planned = _t(spark, sf_dir, name).rdd.getNumPartitions()
    cores = spark.sparkContext.defaultParallelism
    path = f"{sf_dir}/{name}.parquet"
    try:
        if os.path.isdir(path):
            files = [
                os.path.join(root, f)
                for root, _dirs, fs in os.walk(path)
                for f in fs
                if f.endswith(".parquet")
            ]
        else:
            files = [path]
        if len(files) >= cores:
            return planned
        import pyarrow.parquet as pq

        row_groups = sum(
            pq.ParquetFile(f).metadata.num_row_groups for f in files
        )
        return min(planned, row_groups)
    except Exception:
        return planned


# Broadcasting the scored vocabulary is the 100-TB shape ONLY while the
# vocabulary actually fits an executor: Heaps' law keeps it far smaller
# than the corpus, but it is unbounded, and an explicit F.broadcast hint
# bypasses autoBroadcastJoinThreshold (an oversized build would fail the
# job instead of falling back). Gate on corpus bytes — at the default
# 1 GiB of documents the vocab is at most a few million tokens (tens of
# MB built); past the cap the scoring join reverts to the shuffle plan.
VOCAB_BROADCAST_MAX_BYTES = 1 << 30


def _maybe_broadcast_vocab(sf_dir: str, df: DataFrame) -> DataFrame:
    if _table_bytes(sf_dir, "documents") <= VOCAB_BROADCAST_MAX_BYTES:
        return F.broadcast(df)
    return df


def _fan_needed(spark: SparkSession, sf_dir: str, name: str) -> bool:
    """True when the table's scan should be fanned out: the table is big
    enough that its per-row map work matters (>= FAN_MIN_BYTES) AND the
    scan can effectively use fewer tasks than the session has slots
    (row-group-aware — see _scan_effective_parallelism). Memoized per
    (session, sf, table)."""
    k = (spark.sparkContext.applicationId, sf_dir, name)
    need = _FAN_MEMO.get(k)
    if need is None:
        cores = spark.sparkContext.defaultParallelism
        need = _table_big(sf_dir, name) and (
            _scan_effective_parallelism(spark, sf_dir, name) < cores
        )
        _FAN_MEMO[k] = need
    return need


def _t_fan(spark: SparkSession, sf_dir: str, name: str, key: str) -> DataFrame:
    """Scan with unsplittable-input fan-out (guide §2.5 "input skew: one
    huge unsplittable file ... repartition immediately after the read"):
    the sf parquet tables are SINGLE-ROW-GROUP files, so a parquet scan
    — and every per-row tokenize/hash/explode expression fused into it —
    otherwise runs as one or two tasks regardless of core count (row
    groups are the parquet split granularity). Hash-repartition on the
    table key to the session's parallelism, gated by :func:`_fan_needed`.
    At production scale inputs arrive in many splits, the guard is
    false, and no extra exchange appears in the plan — the fan-out is
    scale-adaptive, not a local[32] constant."""
    df = _t(spark, sf_dir, name)
    if _fan_needed(spark, sf_dir, name):
        return df.repartition(spark.sparkContext.defaultParallelism, key)
    return df


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
            (F.floor(score("n1", "n2") * 10000 + F.lit(0.5)) / 10000).alias(
                "similitud"
            ),
        )
        .orderBy("k1")
    )


def m14_duplicate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M14 duplicate detection: same (custkey, orderdate) seen >1 time —
    the reference's CIF+numero_factura equality check shape."""
    orders = _t_fan(spark, sf_dir, "orders", "o_orderkey")
    return (
        orders.groupBy("o_custkey", F.to_date("o_orderdate").alias("fecha"))
        .agg(F.count("*").alias("copies"), F.min("o_orderkey").alias("first_key"))
        .filter(F.col("copies") > 1)
        .orderBy("o_custkey", "fecha")
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection over documents.

    signature_i = min over word tokens of md5(token || ':' || i);
    band_j = md5(sig_{2j} || sig_{2j+1}); docs sharing a band key are
    near-dup candidates. Output: per-band-collision-group stats.
    Scale shape: one shuffle on band key (explode -> groupBy), candidate
    verification would be a self-join within groups — counts reported here.
    """
    docs = _t_fan(spark, sf_dir, "documents", "doc_id").filter(
        F.trim(F.coalesce(F.col("text"), F.lit(""))) != ""
    )
    words = _words(F.col("text"))

    # Round-8 shape (guide §1.2/§2.3): signature_i = min over the doc's
    # token SET of md5(token:i), so (a) duplicate words never need
    # hashing (min over set == min over bag) and (b) each DISTINCT
    # corpus token needs its 8 digests computed exactly ONCE — the old
    # per-row transform() re-hashed every token of every doc through 8
    # interpreted higher-order passes (Zipf means the same head tokens
    # were digested millions of times). Now: explode per-doc distinct
    # tokens, hash the corpus vocabulary once, join back (thin rows:
    # doc_id + token), and take per-doc mins with map-side partial
    # aggregation. Identical signatures — same md5 family over the same
    # token sets (A/B-checked equal at sf1.0).
    toks = docs.select(
        "doc_id",
        F.explode_outer(F.array_distinct(words)).alias("t"),
    )
    vh = toks.select("t").distinct().select(
        "t",
        *[
            F.md5(F.concat("t", F.lit(f":{i}"))).alias(f"x{i}")
            for i in range(N_HASHES)
        ],
    )
    sig_df = (
        toks.join(vh, "t", "left")
        .groupBy("doc_id")
        .agg(*[F.min(f"x{i}").alias(f"h{i}") for i in range(N_HASHES)])
    )
    bands = sig_df.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.md5(
                            F.concat(F.col(f"h{2 * j}"), F.col(f"h{2 * j + 1}"))
                        ).alias("key"),
                    )
                    for j in range(N_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.band").alias("band"), F.col("b.key").alias("key"))
    groups = bands.groupBy("band", "key").agg(F.count("*").alias("members"))
    return (
        groups.filter(F.col("members") > 1)
        .groupBy("band")
        .agg(
            F.count("*").alias("collision_groups"),
            F.sum("members").alias("docs_in_collisions"),
            F.max("members").alias("max_group"),
        )
        .orderBy("band")
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


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup over a small doc window (id<40 x id<40):
    shingle arrays -> intersection/union sizes. array_distinct before the
    set ops (shingles repeat). Reports pairs with jaccard >= 0.01.

    All-pairs by design: this is the small-window exact oracle for the
    verify expression; the scale-path pair source is dedup_lsh_clusters
    (LSH band collisions -> same verify -> components)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    sh = _shingle_table(docs)
    a = sh.select(F.col("doc_id").alias("id1"), F.col("sh").alias("s1"))
    b = sh.select(F.col("doc_id").alias("id2"), F.col("sh").alias("s2"))
    pairs = a.join(b, a.id1 < b.id2)
    return (
        pairs.select("id1", "id2", F.round(_jaccard("s1", "s2"), 4).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.01)
        .orderBy("id1", "id2")
    )


# Pair count above which the component loop leaves the single-partition
# broadcast layout for the N-way co-partitioned one.
COMPONENT_AUTO_THRESHOLD = 200_000


def _component_layout(
    pairs: DataFrame, partitions: int | None
) -> tuple[DataFrame, int | None]:
    """Materialize the pair graph at its own parallelism and resolve the
    component-loop layout. The eager checkpoint is load-bearing twice
    over: (a) the sandbox layout collapses to coalesce(1), which is NOT
    a shuffle boundary — without the checkpoint the entire upstream LSH
    Jaccard-verify DAG would execute inside that one merged task (found
    by the round-6 shuffle sweep: dedup wall flat 16->32 cores; sf3
    29 s -> 14 s fixed); (b) it makes the pair COUNT a near-free job,
    which funds the adaptive layout choice.

    Layout resolution, in priority order:
    1. explicit ``partitions`` argument (callers that know their graph);
    2. ADAPTIVE default: count the materialized pairs — small graphs
       (<= COMPONENT_AUTO_THRESHOLD pairs) take the single-partition
       broadcast loop (each round a handful of tasks — right for the
       sandbox's sparse near-dup graphs);
       larger graphs switch to the N-way co-partitioned shuffle-join
       layout with N ~ pairs/100k capped at spark.sql.shuffle.partitions,
       so a 100-TB crawl's billion-edge graph never funnels its loop
       rounds through one task and nothing needs a manual knob. Both
       layouts produce identical labels (property-pinned)."""
    from facturas_spark.analytics.cache import tracked_checkpoint

    pairs = tracked_checkpoint(pairs)
    if partitions is not None:
        return pairs, partitions
    n = pairs.count()
    if n <= COMPONENT_AUTO_THRESHOLD:
        return pairs, None
    cap = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return pairs, max(2, min(cap, n // max(1, COMPONENT_AUTO_THRESHOLD // 2)))


def _min_label_components(
    pairs: DataFrame, partitions: int | None = None
) -> DataFrame:
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

    ``partitions`` selects the layout (None = ADAPTIVE, resolved by
    ``_component_layout`` from the materialized pair count):
    - single-partition broadcast loop (small graphs): the pair graph is
      tiny relative to the corpus (near-dups are rare), so collapse to
      one partition and broadcast the label side — each round is a
      handful of tasks.
    - N-way co-partitioned (large graphs / explicit N): hash-partition
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

    pairs, partitions = _component_layout(pairs, partitions)
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


# session-level cluster-label cache: the iterative component job is the
# suite's most expensive op, and dedup_canonical_corpus consumes exactly
# dedup_clusters' output — computing it twice per session is pure waste.
# Keyed by (sc id, sf_dir, kind); values stay persisted.


def _cached_components(spark: SparkSession, sf_dir: str, kind: str, make) -> DataFrame:
    from facturas_spark.analytics.cache import session_cached

    return session_cached(spark, sf_dir, f"components:{kind}", make)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER formation: connected components over the
    ngram-Jaccard pair graph (the step after pair detection a real dedup
    pipeline needs — 'keep one doc per component'). Small-window exact
    variant; the full-corpus scale chain is dedup_lsh_clusters. DuckDB
    oracle computes the same components with a recursive reachability CTE."""
    labels = _cached_components(
        spark,
        sf_dir,
        "ngram",
        lambda: _min_label_components(
            dedup_ngram_jaccard(spark, sf_dir).select("id1", "id2")
        ),
    )
    return labels.orderBy("doc_id")


def dedup_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ACTION: keep one document per near-dup component (the
    component's min doc_id) and every untouched document — the surviving
    corpus after cluster-based dedup. Anti-join of the doc window against
    non-canonical cluster members; at scale the cluster map is the small
    side (dup ratio << 1), so the anti-join broadcasts. Reuses the
    session-cached cluster map from dedup_clusters instead of re-running
    the component job."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    clusters = dedup_clusters(spark, sf_dir)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return (
        docs.join(F.broadcast(drop), "doc_id", "left_anti")
        .select("doc_id", "lang", F.length("text").alias("n_chars"))
        .orderBy("doc_id")
    )


LSH_JACCARD_THRESHOLD = 0.5


def _band_table(sh: DataFrame, family: str = "md5") -> DataFrame:
    """MinHash LSH band table of a shingle table: 8 min-hash signatures ->
    4 bands x 2 rows -> explode to one (doc_id, band, key) row per band.
    The shared candidate-generation kernel of the full-corpus chain
    (dedup_lsh_clusters) and the incremental batch-vs-corpus variant.

    ``family`` selects the hash:
    - ``"md5"`` (default): hex-string min under lexicographic order —
      DuckDB computes the identical value, so the oracle gate covers the
      chain end-to-end. ~4x dearer than xxhash64 (string materialization
      + 128-bit digest).
    - ``"xxhash64"``: Spark's native 64-bit hash, integer min — the
      production family at 10^12 docs (no hex strings, no string
      comparisons, same plan shape). Not DuckDB-expressible, so it is
      covered by the pytest equivalence test instead of the oracle
      (tests/test_dedup_chain.py::test_xxhash64_family_same_clusters)."""

    def sig(i: int):
        suffix = f":{i}"
        if family == "xxhash64":
            h = lambda s: F.xxhash64(F.concat(s, F.lit(suffix)))  # noqa: E731
        else:
            h = lambda s: F.md5(F.concat(s, F.lit(suffix)))  # noqa: E731
        return F.array_min(F.transform(F.col("sh"), h)).alias(f"h{i}")

    def band_key(j: int):
        lo, hi = F.col(f"h{2 * j}"), F.col(f"h{2 * j + 1}")
        if family == "xxhash64":
            return F.xxhash64(lo, hi)
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


def _lsh_candidate_pairs(sh: DataFrame, family: str = "md5") -> DataFrame:
    """Candidate pairs from MinHash band collisions over a shingle table:
    band table self equi-join on (band, key) -> distinct (id1 < id2) pairs.

    Exposed as a unit so tests/test_plans.py can pin the property the
    100-TB chain depends on: candidates come ONLY from this banded
    equi-join — never an all-pairs/theta join over the corpus."""
    bands = _band_table(sh, family)
    a = bands.select("band", "key", F.col("doc_id").alias("id1"))
    b = bands.select("band", "key", F.col("doc_id").alias("id2"))
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )


def dedup_lsh_clusters(
    spark: SparkSession, sf_dir: str, family: str = "md5"
) -> DataFrame:
    """The END-TO-END scale dedup chain over the FULL documents table:
    shingle MinHash -> LSH band collisions -> candidate pairs -> Jaccard
    verify -> connected components. This is the composition a 100-TB dedup
    runs: no all-pairs join anywhere — candidates come only from band-key
    collision groups (self-join on the band key), and the quadratic
    verify cost is confined inside those tiny groups.

    MinHash runs over the word-3-gram shingle set (the same set the
    verify measures — signatures estimate exactly the verified Jaccard;
    word-level signatures would collide on shared vocabulary alone: at
    sf0.01 word-minhash emits 97k candidates, shingle-minhash 27 for the
    same 25 true pairs). Hash family: min(md5(shingle || ':' || i)) under
    lexicographic order, portable to the DuckDB oracle. 8 hashes, 4 bands
    x 2 rows: collision prob j^2 per band — ~0.97 recall at j=0.7 and
    band count tunes recall/cost at scale.

    ``family`` is an EXPLICIT parameter (default md5 — the DuckDB-
    portable oracle family), never the ambient env var: the families
    produce different candidate sets in general, so a stray env var must
    not silently change oracle-gated results. Callers that want
    xxhash64, the integer production family (_band_table docstring),
    pass it through this argument."""

    def make() -> DataFrame:
        docs = _t_fan(spark, sf_dir, "documents", "doc_id").filter(
            F.trim(F.coalesce(F.col("text"), F.lit(""))) != ""
        )
        sh = scratch_persist(_shingle_table(docs))
        cand = _lsh_candidate_pairs(sh, family)
        verified = _verified_pairs(sh, cand)
        return _min_label_components(verified)

    return _cached_components(spark, sf_dir, f"lsh-{family}", make).orderBy("doc_id")


N_SIMHASH_BITS = 16


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup fingerprints over documents (doc_id < 60).

    Portable bit family: bit_k of token = 1 iff hex char k of md5(token) is
    in [8..f] (each nibble's MSB is a fair coin). simhash bit_k = majority
    vote over tokens; emitted as an integer. Identical in DuckDB.
    """
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    words = _words(F.col("text"))

    def simhash_of(hashes):
        # hashes is a let-bound lambda variable: the md5-per-word array is
        # computed ONCE per row; referencing the raw expression in all 16
        # bit filters would recompute split+md5 17x (see _shingle_table)
        n = F.size(hashes)
        bits = []
        for k in range(N_SIMHASH_BITS):
            pos = k + 1
            votes = F.size(
                F.filter(
                    hashes,
                    lambda h: F.substring(h, pos, 1).isin(*"89abcdef"),
                )
            )
            bits.append(F.when(votes * 2 > n, F.lit(1 << k)).otherwise(F.lit(0)))
        return sum(bits[1:], bits[0])

    simhash = F.element_at(
        F.transform(
            F.array(F.transform(words, lambda w: F.md5(w))),
            simhash_of,
        ),
        1,
    )
    return (
        docs.select("doc_id", simhash.alias("simhash"))
        .filter(F.size(words) > 0)
        .orderBy("doc_id")
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: vector pairs (id<80, id1<id2) with
    cosine >= 0.2 — the semantic-dedup primitive over array<float>.
    JVM-side aggregate/zip_with; brute-force quadratic on the small window
    (the scale path is LSH-bucketing, see ann_lsh_buckets)."""
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


def _cosine(a: str, b: str):
    return _dot(a, b) / (F.sqrt(_norm2(a)) * F.sqrt(_norm2(b)))


def _dot_long(a: str, b: str):
    """Integer dot product with the same unrolled fast path as
    :func:`_dot`, in LONG arithmetic (the integer-exact neighbor
    predicate of embed_neighbor_graph). Long addition is associative, so
    the flat 64-term sum is bit-identical to the zip_with/aggregate fold
    it replaces — but whole-stage-codegen'd instead of interpreted
    per-element."""
    terms = " + ".join(
        f"element_at(`{a}`, {i}) * element_at(`{b}`, {i})"
        for i in range(1, EMB_FAST_DIM + 1)
    )
    fold = (
        f"aggregate(zip_with(`{a}`, `{b}`, (x, y) -> x * y),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    return _memo_expr(
        ("dotl", a, b),
        f"CASE WHEN size(`{a}`) = {EMB_FAST_DIM}"
        f" AND size(`{b}`) = {EMB_FAST_DIM}"
        f" THEN CAST(0 AS BIGINT) + {terms} ELSE {fold} END",
    )


def _cosine_small(a: str, b: str):
    """Fold-form cosine for the BOUNDED demo-oracle windows
    (dedup_semantic's vec_id<200, dedup_embedding_cosine's vec_id<80):
    their pair counts are fixed at every sf, so the unrolled fast path
    buys no runtime there while its ~400-node tree taxes every
    analyzer/optimizer pass. Value-identical to :func:`_cosine` (same
    left-fold addition order, same casts)."""
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
    emb = _t_fan(spark, sf_dir, "embeddings", "vec_id")
    return (
        _emb_candidates_with_cosine(emb.select("vec_id", "embedding"), "vec_id")
        .select("id1", "id2", F.round("_cos", 4).alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.2)
        .distinct()  # multi-band collisions carry identical cos_sim
        .orderBy("id1", "id2")
    )


def txt_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via polynomial rolling hash of the normalized
    text: fold (acc*31 + ascii(char)) % 1000000007 over characters.
    Order-sensitive (unlike the md5 fingerprint in dedup_exact)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    norm = F.lower(F.regexp_replace(F.coalesce("text", F.lit("")), r"\s+", " "))
    chars = F.split(norm, "")
    fp = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % 1000000007,
    )
    return docs.select("doc_id", fp.alias("fingerprint")).orderBy("doc_id")


def _bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached full-corpus BPE vocabulary frame (w, toks, wn):
    every distinct pre-token of the documents table with its merged
    token array and count. The merge chain — the expensive part of the
    vocabulary join — runs ONCE per (session, sf_dir) and is
    materialized via ``session_cached``; txt_bpe_token_stats,
    corpus_packing and corpus_chunking all join against the same frame
    (round-5 advice: each rebuilt the distinct-word tokenization). The
    full-corpus vocab is a superset of any doc-subset's, and the
    consumers join INNER on w, so subset consumers (packing's
    doc_id < 500 window) are exact. ``wn = size(toks)`` is identical to
    ``bpe.token_count_expr`` by construction (same filter over the same
    merged spread). At cluster scale this frame is the persisted
    tokenizer-vocabulary staging table every trainer pipeline keeps."""
    from facturas_spark.analytics.cache import session_cached
    from facturas_spark.extraction import bpe

    def make() -> DataFrame:
        docs = _t_fan(spark, sf_dir, "documents", "doc_id")
        return (
            docs.select(F.explode(bpe.pretokens_expr(F.col("text"))).alias("w"))
            .distinct()
            .select("w", bpe.tokens_expr(F.col("w")).alias("toks"))
            .withColumn("wn", F.size("toks").cast("long"))
        )

    return session_cached(spark, sf_dir, "bpe_vocab", make)


def _bpe_token_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached TOKENIZED CORPUS: (doc_id, w = the doc's full BPE
    token sequence in position order). Built once per (session, sf_dir)
    — posexplode into pre-tokens, join the ``_bpe_vocab`` merge table,
    re-assemble in position order (array_sort on the pos struct) — and
    shared by corpus_chunking (needs the sequence), corpus_packing and
    txt_bpe_token_stats (need only ``size(w)``, which equals the
    vocabulary join's sum(wn) by construction: flatten preserves every
    token). Round-7 directive: round 6 cached only the vocab, so
    chunking still paid the posexplode + join + collect_list rebuild per
    call. Docs with zero pre-tokens are ABSENT (consumers left-join and
    coalesce to 0 / filter as needed).

    At cluster scale this frame is the persisted tokenized-corpus
    staging table (the ``input_ids`` parquet) every trainer pipeline
    writes once and reads many times — materializing it is the point,
    not a cache trick."""
    from facturas_spark.analytics.cache import session_cached
    from facturas_spark.extraction import bpe

    def make() -> DataFrame:
        docs = _t_fan(spark, sf_dir, "documents", "doc_id")
        pre = docs.select(
            "doc_id",
            F.posexplode(bpe.pretokens_expr(F.col("text"))).alias("pos", "w"),
        )
        vocab = _bpe_vocab(spark, sf_dir)
        return (
            pre.join(vocab.select("w", "toks"), "w")
            .groupBy("doc_id")
            .agg(
                F.flatten(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "toks"))),
                        lambda s: s["toks"],
                    )
                ).alias("w")
            )
        )

    return session_cached(spark, sf_dir, "bpe_token_seq", make)


def _bpe_counts_from_seq(
    docs: DataFrame, seq: DataFrame, extra_cols: list | None = None
) -> DataFrame:
    """Per-doc BPE token counts read off the cached token sequence:
    ``size(w)`` over one doc_id left join — identical to
    ``_bpe_doc_token_counts``'s sum(wn) (flatten preserves every token;
    equality pinned in tests/test_bpe.py). Covers every input doc
    (sequence-less docs count 0)."""
    return (
        docs.select("doc_id", *(extra_cols or []))
        .join(seq, "doc_id", "left")
        .select(
            "doc_id",
            *(extra_cols or []),
            F.coalesce(F.size("w").cast("long"), F.lit(0).cast("long")).alias(
                "tokens"
            ),
        )
    )


def _bpe_doc_token_counts(
    docs: DataFrame,
    extra_cols: list | None = None,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Per-doc REAL-BPE token counts via the vocabulary join (the
    corpus-scale shape): explode docs into pre-tokens, run the merge
    chain over DISTINCT words only (Heaps' law keeps the vocabulary
    sublinear in the corpus), join the per-word counts back and sum.
    Two shuffles (distinct + doc re-agg) buy an encode cost that
    amortizes over word frequency instead of paying O(doc_len x merges)
    per document. Returns (doc_id, *extra_cols, tokens) covering every
    input doc (token-less docs count 0) — ``extra_cols`` ride along on
    the final left join so callers don't re-scan the docs table.

    ``vocab``: a prebuilt (w, .., wn) frame (``_bpe_vocab``) — must
    cover every pre-token of ``docs``; when omitted the vocabulary is
    derived from ``docs`` itself."""
    from facturas_spark.extraction import bpe

    pre = docs.select(
        "doc_id", F.explode(bpe.pretokens_expr(F.col("text"))).alias("w")
    )
    if vocab is None:
        vocab = (
            pre.select("w")
            .distinct()
            .select("w", bpe.token_count_expr(F.col("w")).alias("wn"))
        )
    per_doc = (
        pre.join(vocab.select("w", "wn"), "w")
        .groupBy("doc_id")
        .agg(F.sum("wn").alias("tokens"))
    )
    return (
        docs.select("doc_id", *(extra_cols or []))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            *(extra_cols or []),
            F.coalesce("tokens", F.lit(0)).alias("tokens"),
        )
    )


def txt_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE token accounting (round-4 directive: replace the regex
    "BPE-ish" estimator): counts come from `extraction/bpe.py`'s frozen
    learned-merge tokenizer via the vocabulary join — the per-lang
    totals a trainer's tokenizer would actually bill."""
    docs = _t(spark, sf_dir, "documents")
    counts = _bpe_counts_from_seq(
        docs, _bpe_token_seq(spark, sf_dir), extra_cols=["lang"]
    )
    return (
        counts.groupBy("lang")
        .agg(
            F.sum("tokens").alias("total_tokens"),
            F.count("*").alias("docs"),
        )
        # integer-exact 2dp average (q13 technique) — see txt_token_stats
        .withColumn(
            "avg_tokens",
            F.expr("CAST((200 * total_tokens + docs) div (2 * docs) AS DOUBLE) / 100.0"),
        )
        .select("lang", "total_tokens", "avg_tokens", "docs")
        .orderBy("lang")
    )


def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN scale path: 8-bit sign bucket over the first 8
    embedding dims (axis-aligned hyperplanes — deterministic and portable).
    At scale, top-k search probes only the query's bucket (+neighbors),
    turning the brute-force O(N) scan into O(N/256). Output: bucket
    occupancy histogram (the candidate-reduction evidence)."""
    # no fan-out here: the per-row work is 8 element_at sign tests — the
    # repartition exchange of the embedding arrays costs more than it
    # parallelizes (measured 0.29 -> 0.58 s at sf1.0 before reverting)
    emb = _t(spark, sf_dir, "embeddings")
    bucket = None
    for i in range(8):
        bit = F.when(F.element_at("embedding", i + 1) > 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        bucket = bit if bucket is None else bucket + bit
    return (
        emb.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("vectors"))
        .orderBy("bucket")
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN scale path: K=8 coarse centroids (vectors
    vec_id 1..8 — a deterministic stand-in for a k-means codebook), every
    vector assigned to its max-cosine centroid (ties to the lowest
    centroid id), then top-10 cosine search for query vec 0 runs ONLY
    inside the query's cell — the scan shrinks O(N) -> O(N/K), and at
    cluster scale the assignment is a write-time column so the probe is a
    partition-pruned read. Plan: centroids broadcast (8 rows), one
    window argmax on vec_id, TakeOrdered for the top-k."""
    emb = _t_fan(spark, sf_dir, "embeddings", "vec_id")
    cents = (
        emb.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= 8))
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce"))
    )

    # round 8: the shared fast-path cosine (unrolled 64-dim dot/norm,
    # codegen-able; bit-identical fold order) replaces the local
    # interpreted higher-order-function form — but only when the
    # embeddings table is big enough to pay for the large expression
    # tree's analysis cost (SIZE-only gate: a big table deserves the
    # fast kernel whether or not its scan also needs a repartition; at
    # sf0.1 the unrolled form cost +1.2 s of fixed overhead for 2k
    # vectors)
    cos = _cosine if _table_big(sf_dir, "embeddings") else _cosine_small

    assigned = (
        emb.crossJoin(F.broadcast(cents))
        .select("vec_id", "embedding", "cent_id", cos("embedding", "ce").alias("_s"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.col("_s").desc(), F.col("cent_id")
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .select("vec_id", "embedding", F.col("cent_id").alias("cell"))
    )
    q = assigned.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("cell").alias("qcell")
    )
    return (
        assigned.join(F.broadcast(q), assigned.cell == F.col("qcell"))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "cell",
            F.round(cos("embedding", "qe"), 4).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


def ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=2: the top-10 search for query vec 0 scans the
    query's OWN cell plus its second-best centroid's cell. Single-probe
    IVF has a recall cliff for vectors near cell boundaries (their true
    neighbors assign to the adjacent cell); probing the next-best centroid
    is the standard fix — scan cost 2N/K instead of N/K, still not O(N).
    Reference analogue: the semantic-search cascade retries with relaxed
    thresholds when the first probe under-delivers
    (ask-my-invoices/index.ts:507-610) — multi-probe is the index-side
    version of that widening. Same plan shape as ann_ivf_topk: centroids
    broadcast, one window argmax, TakeOrdered top-k."""
    emb = _t_fan(spark, sf_dir, "embeddings", "vec_id")
    cents = (
        emb.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= 8))
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce"))
    )

    # round 8: the shared fast-path cosine (unrolled 64-dim dot/norm,
    # codegen-able; bit-identical fold order) replaces the local
    # interpreted higher-order-function form — but only when the
    # embeddings table is big enough to pay for the large expression
    # tree's analysis cost (SIZE-only gate: a big table deserves the
    # fast kernel whether or not its scan also needs a repartition; at
    # sf0.1 the unrolled form cost +1.2 s of fixed overhead for 2k
    # vectors)
    cos = _cosine if _table_big(sf_dir, "embeddings") else _cosine_small

    scored = (
        emb.crossJoin(F.broadcast(cents))
        .select("vec_id", "embedding", "cent_id", cos("embedding", "ce").alias("_s"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.col("_s").desc(), F.col("cent_id")
                )
            ),
        )
    )
    assigned = scored.filter(F.col("_rn") == 1).select(
        "vec_id", "embedding", F.col("cent_id").alias("cell")
    )
    # query probes its top-2 centroids' cells (nprobe=2)
    probe_cells = scored.filter((F.col("vec_id") == 0) & (F.col("_rn") <= 2)).select(
        F.col("cent_id").alias("qcell")
    )
    q = assigned.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    return (
        assigned.join(F.broadcast(probe_cells), assigned.cell == F.col("qcell"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "cell",
            F.round(cos("embedding", "qe"), 4).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


def txt_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID (n-gram-heuristic family): counts of
    language-marker tokens -> argmax guess; confusion counts vs the lang
    column. All built-ins; one shuffle."""
    docs = _t_fan(spark, sf_dir, "documents", "doc_id")
    words = _words(F.col("text"))

    def hits(markers: list[str]):
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))

    en = hits(["the", "of", "and", "to", "in", "a", "is"])
    es = hits(["el", "la", "de", "que", "los", "las", "una", "y"])
    guess = (
        F.when((en > es) & (en > 0), "en")
        .when((es > en) & (es > 0), "es")
        .when((en == es) & (en > 0), "tie")
        .otherwise("unknown")
    )
    return (
        docs.select("lang", guess.alias("guess"))
        .groupBy("lang", "guess")
        .agg(F.count("*").alias("docs"))
        .orderBy("lang", "guess")
    )


def _incr_candidate_pairs(sh_b: DataFrame, sh_c: DataFrame) -> DataFrame:
    """Batch-vs-corpus LSH candidate pairs: band tables for each side,
    equi-joined on (band, key) — the incremental twin of
    `_lsh_candidate_pairs`. Kept as a separate un-materialized builder so
    the plan tests can assert the banded equi-join shape (no
    cartesian/theta join) before `dedup_incremental` checkpoints it."""
    return (
        _band_table(sh_b)
        .withColumnRenamed("doc_id", "bid")
        .join(_band_table(sh_c).withColumnRenamed("doc_id", "cid"), ["band", "key"])
        .select("bid", "cid")
        .distinct()
    )


# Candidate-pair count above which dedup_incremental checkpoints the
# candidate set instead of relying on its persist cache alone.
INCR_CKPT_THRESHOLD = 200_000


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: a NEW BATCH of documents arrives and must be
    deduplicated against the already-ingested corpus without re-deduping
    the corpus itself — the shape every continuously-fed training-data
    pipeline runs (daily crawl increments vs a petabyte corpus).

    Batch = doc_id % 5 == 0 (a deterministic 20% "arrival"); corpus = the
    rest. Two phases, each scale-safe:

    1. EXACT: md5 text fingerprint; a batch doc is ``dropped_exact`` if
       its fingerprint exists in the corpus OR on an earlier (smaller
       doc_id) batch doc — one equi-join on the fingerprint. At scale the
       corpus side is a pre-built fingerprint index (bucketed table);
       the join is shuffle-free against bucketed storage.
    2. NEAR-DUP (survivors only): shingle MinHash band table for each
       side, batch bands equi-join corpus bands on (band, key) — the
       batch side is the small one, so at scale this broadcasts or
       bucket-joins against the corpus's PERSISTED band index; candidate
       verification (word-3-gram Jaccard >= 0.5) runs once per distinct
       candidate pair. No all-pairs join anywhere; corpus-internal
       near-dups are the full chain's job (dedup_lsh_clusters), not the
       increment's.

    Output: one row per batch doc — decision in (kept, dropped_exact,
    dropped_neardup) and match_id = the smallest matching prior doc."""
    docs = _t_fan(spark, sf_dir, "documents", "doc_id").filter(
        F.trim(F.coalesce(F.col("text"), F.lit(""))) != ""
    )
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)

    bfp = batch.select("doc_id", F.md5("text").alias("fp"))
    prior_fp = corpus.select(F.col("doc_id").alias("pid"), F.md5("text").alias("fp"))
    exact = (
        bfp.join(
            prior_fp.unionByName(bfp.toDF("pid", "fp")), "fp"
        )
        .filter(F.col("pid") < F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.min("pid").alias("exact_match"))
    )

    # each shingle table feeds BOTH the band join and the Jaccard verify —
    # persist so tokenization + minhash signatures compute once per side.
    # Outside a scratch_scope they sit on the loose ledger, so warm calls
    # reuse them until release_session_cache frees them.
    sh_b = scratch_persist(_shingle_table(batch))
    sh_c = scratch_persist(_shingle_table(corpus))
    # referenced twice below (prune ids + verify probe); see
    # _verified_pairs for why AQE re-executes unmaterialized candidate
    # DAGs per reference. The guard is ADAPTIVE on the candidate count
    # (round-7 directive — the round-6 always-eager localCheckpoint cost
    # ~0.9 s at sf0.1 for a guard only needed at sweep scale): persist +
    # count materializes the DAG exactly once into the block-manager
    # cache — both later references read cached blocks, so the 4.8M-doc
    # re-execution blowup cannot recur — and ONLY a large candidate set
    # (> INCR_CKPT_THRESHOLD pairs — the _component_layout
    # count-then-choose pattern) pays the checkpoint,
    # which truncates the lineage so an eviction under memory pressure
    # can never silently re-execute the band-join DAG mid-verify. Plan
    # shape of the un-materialized frame is asserted by
    # tests/test_plans.py (band-key equi-join, no theta).
    cand = scratch_persist(_incr_candidate_pairs(sh_b, sh_c))
    if cand.count() > INCR_CKPT_THRESHOLD:
        from facturas_spark.analytics.cache import tracked_checkpoint

        ckpt = tracked_checkpoint(cand)
        # the checkpoint copied the blocks — free the pre-checkpoint
        # persist cache, else the candidate set is resident TWICE for
        # the session lifetime (review fix)
        cand.unpersist()
        cand = ckpt
    # corpus side gets the _verified_pairs semi-join prune: band hits
    # touch few corpus docs, so fetch only those docs' (fat) shingle
    # sets instead of shuffling the whole corpus's arrays into the join
    sh_c_hit = sh_c.join(
        F.broadcast(cand.select(F.col("cid").alias("doc_id")).distinct()),
        "doc_id",
        "semi",
    )
    near = (
        cand.join(sh_b.toDF("bid", "s1"), "bid")
        .join(sh_c_hit.toDF("cid", "s2"), "cid")
        .filter(_jaccard(F.col("s1"), F.col("s2")) >= LSH_JACCARD_THRESHOLD)
        .groupBy("bid")
        .agg(F.min("cid").alias("near_match"))
        .withColumnRenamed("bid", "doc_id")
    )

    return (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_match").isNotNull(), F.lit("dropped_exact"))
            .when(F.col("near_match").isNotNull(), F.lit("dropped_neardup"))
            .otherwise(F.lit("kept"))
            .alias("decision"),
            F.coalesce("exact_match", "near_match").alias("match_id"),
        )
        .orderBy("doc_id")
    )


def txt_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, public paper
    — the standard webtext pre-training filter battery), per doc over a
    bounded window (doc_id < 200) so the oracle pins every rule:

    - word count in [10, 100000]
    - mean word length in [2, 10]
    - >= 80% of words contain an alphabetic character
    - >= 2 distinct common-English stopwords present
      (lang-aware deployments parameterize the list)

    Everything is columnar JVM-side arithmetic over the tokenized array —
    no UDF, no shuffle beyond the final presentation sort; at 100 TB this
    is a pure map stage fused into the scan."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    words = _words(F.col("text"))
    w = F.element_at(F.transform(F.array(words), lambda ws: ws), 1)  # let-bind
    n = F.size("w")
    mean_len = F.aggregate(
        "w", F.lit(0), lambda acc, x: acc + F.length(x)
    ) / F.greatest(n, F.lit(1))
    alpha_frac = F.size(F.filter("w", lambda x: x.rlike("[a-z]"))) / F.greatest(
        n, F.lit(1)
    )
    stopwords = ["the", "be", "to", "of", "and", "that", "have", "with", "a", "in"]
    n_stop = F.size(
        F.array_intersect(F.array_distinct("w"), F.array(*[F.lit(s) for s in stopwords]))
    )
    return (
        docs.select("doc_id", w.alias("w"))
        .select(
            "doc_id",
            n.alias("n_words"),
            F.round(mean_len, 4).alias("mean_word_len"),
            F.round(alpha_frac, 4).alias("alpha_frac"),
            n_stop.alias("n_stopwords"),
        )
        .withColumn(
            "keep",
            (F.col("n_words") >= 10)
            & (F.col("n_words") <= 100000)
            & (F.col("mean_word_len") >= 2)
            & (F.col("mean_word_len") <= 10)
            & (F.col("alpha_frac") >= 0.8)
            & (F.col("n_stopwords") >= 2),
        )
        .orderBy("doc_id")
    )


def txt_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style repetition filters (public papers), per doc over
    doc_id < 200 with >= 3 words: fraction of word-2-gram occurrences
    taken by the single most frequent 2-gram, and fraction of word-3-gram
    occurrences that are repeats (count > 1). High values mark
    boilerplate/spam loops.

    Scale shape: explode n-grams -> count per (doc_id, gram) -> reduce per
    doc. Both aggregations key on doc_id-prefixed composites, so this is
    two partial-agg shuffles that AQE coalesces; no per-row quadratic
    scan (the in-row higher-order alternative is O(n_grams^2) per doc —
    fine at 100 words, pathological at 10^5)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    words = _words(F.col("text"))
    # docs with < 3 words have no 3-grams (and a degenerate 2-gram stat):
    # excluded up front, which also keeps every sequence() ascending
    base = docs.filter(F.size(words) >= 3).select("doc_id", words.alias("w"))

    def grams_of(k: int):
        return F.transform(
            F.sequence(F.lit(0), F.size("w") - k),
            lambda i: F.concat_ws(
                " ", *[F.element_at("w", i + j + 1) for j in range(k)]
            ),
        )

    def stats(k: int):
        return (
            base.select("doc_id", F.explode(grams_of(k)).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count("*").alias("c"))
            .groupBy("doc_id")
            .agg(
                F.round(F.max("c") / F.sum("c"), 4).alias(f"top_{k}gram_frac"),
                F.round(
                    F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
                    / F.sum("c"),
                    4,
                ).alias(f"dup_{k}gram_frac"),
            )
        )

    g2 = stats(2).select("doc_id", "top_2gram_frac")
    g3 = stats(3).select("doc_id", "dup_3gram_frac")
    return (
        base.select("doc_id")
        .join(g2, "doc_id")
        .join(g3, "doc_id")
        .withColumn(
            "keep",
            (F.col("top_2gram_frac") <= 0.20) & (F.col("dup_3gram_frac") <= 0.30),
        )
        .orderBy("doc_id")
    )


def corpus_packing(
    spark: SparkSession, sf_dir: str, shards: int | None = None
) -> DataFrame:
    """Token-budget document packing (sequence packing for LLM training):
    assign docs, in deterministic doc_id order, to consecutive packs of
    <= 512 whitespace tokens via running-sum bucketing — pack_id =
    floor((cumsum - tokens) / budget), i.e. a doc starts a new pack when
    the budget boundary falls before it. Emits per-pack stats.

    Scale note: a single global running sum is a sequential dependency;
    at 100 TB packing runs per shard (hash(doc_id) % n_shards) with one
    window per shard — same expression, shard column added to the
    partitionBy — so the cumsum never crosses executors. The global
    variant here is the oracle-checkable core."""
    # budget denominated in REAL BPE tokens (extraction/bpe.py's frozen
    # learned merges) since round 5 — the pack boundary now falls where
    # a trainer's tokenizer would put it, not at a whitespace estimate;
    # counts read off the shared tokenized-corpus cache (size(w) ==
    # the vocabulary join's sum(wn); _bpe_counts_from_seq docstring)
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    budget = 512
    base = _bpe_counts_from_seq(docs, _bpe_token_seq(spark, sf_dir))
    if shards is None:
        w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
        group_cols = ["pack_id"]
    else:
        # cluster-scale layout: the running sum never leaves its shard, so
        # the window is an ordinary per-partition scan — no global sort,
        # no single-task stage; pack identity becomes (shard, pack_id)
        base = base.withColumn("shard", F.pmod(F.col("doc_id"), F.lit(shards)))
        w = (
            Window.partitionBy("shard")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        group_cols = ["shard", "pack_id"]
    packed = base.withColumn(
        "pack_id",
        F.floor((F.sum("tokens").over(w) - F.col("tokens")) / budget).cast("bigint"),
    )
    return (
        packed.groupBy(*group_cols)
        .agg(
            F.count("*").alias("docs"),
            F.sum("tokens").alias("tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy(*group_cols)
    )


def corpus_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota sampling (crawl balancing: cap over-represented
    hosts/sources): keep the first K=8 docs per source under a
    deterministic md5(doc_id) shuffle order, report per-source kept/total.
    One hash shuffle on source; the row_number window is the standard
    bounded-quota primitive (vs sampleBy's probabilistic quotas, which
    can't promise an exact cap)."""
    docs = _t(spark, sf_dir, "documents")
    k = 8
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.select("source", "doc_id", F.row_number().over(w).alias("rn"))
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").alias("total"),
            F.sum(F.when(F.col("rn") <= k, 1).otherwise(0)).alias("kept"),
            F.min(F.when(F.col("rn") <= k, F.col("doc_id"))).alias("min_kept_doc"),
        )
        .orderBy("source")
    )


def txt_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pre-redaction scan (the count/locate half of a C4-style scrub
    pass — redaction itself is a deterministic regexp_replace with the
    same patterns): per doc over doc_id < 300, counts of email-shaped,
    phone-shaped (ES 9-digit groups), and IPv4-shaped spans, plus the
    text length a redaction pass would preserve. Pure columnar regex —
    at 100 TB this fuses into the scan like every other map stage."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    email = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
    phone = r"\b[679]\d{2}[ .-]?\d{3}[ .-]?\d{3}\b"
    ipv4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
    # the synthetic corpus is PII-free, which would make this facet a
    # wall of zeros; deterministic PII-shaped suffixes (same expression in
    # the DuckDB twin) give every regex real positive AND negative signal
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
    return (
        docs.select(
            "doc_id",
            F.size(F.regexp_extract_all(t, F.lit(email), F.lit(0))).alias("emails"),
            F.size(F.regexp_extract_all(t, F.lit(phone), F.lit(0))).alias("phones"),
            F.size(F.regexp_extract_all(t, F.lit(ipv4), F.lit(0))).alias("ipv4s"),
            F.length(t).alias("n_chars"),
        )
        .withColumn(
            "has_pii", (F.col("emails") + F.col("phones") + F.col("ipv4s")) > 0
        )
        .orderBy("doc_id")
    )


def embed_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-embedder verification facet (oracle-twinned): per doc
    over doc_id < 150, integer-exact stats of the hashed char-3-gram
    projection (extraction/embed.py — the engine's stand-in for the
    reference's OpenAI embedding write, index.ts:5370-5519):

    - n_grams   — 3-gram count of the normalized text
    - nnz       — buckets with a nonzero signed count
    - checksum  — sum of the signed counts (integer, order-free)
    - sumsq     — sum of squared counts (the squared L2 norm, integer)
    - max_dim   — smallest TOUCHED bucket holding the maximum count
                  (touched-only so sign cancellation can't tie against
                  never-touched zero dims); NULL when no grams
    - l2        — round(sqrt(sumsq), 4)

    Every stat before l2 is an integer, so the DuckDB twin (same md5
    bucket/sign arithmetic in SQL) matches bit-for-bit regardless of
    partitioning. Scale: pure map stage + presentation sort."""
    from pyspark.sql.functions import pandas_udf

    from facturas_spark.extraction.embed import EMBED_DIM, _normalize

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)

    @pandas_udf("n_grams long, nnz long, checksum long, sumsq long, max_dim long")
    def stats(text):
        import hashlib

        import pandas as pd

        out = []
        for t in text:
            s = _normalize(t)
            touched: dict[int, int] = {}
            for i in range(len(s) - 2):
                h = hashlib.md5(s[i : i + 3].encode("utf-8")).hexdigest()
                b = int(h[:4], 16) % EMBED_DIM
                touched[b] = touched.get(b, 0) + (1 if int(h[4], 16) < 8 else -1)
            n_grams = max(len(s) - 2, 0)
            if touched:
                mx = max(touched.values())
                max_dim = min(b for b, v in touched.items() if v == mx)
            else:
                max_dim = None
            out.append(
                (
                    n_grams,
                    sum(1 for v in touched.values() if v != 0),
                    sum(touched.values()),
                    sum(v * v for v in touched.values()),
                    max_dim,
                )
            )
        return pd.DataFrame(
            out, columns=["n_grams", "nnz", "checksum", "sumsq", "max_dim"]
        )

    return (
        docs.select("doc_id", stats("text").alias("s"))
        .select("doc_id", "s.*")
        .withColumn("l2", F.round(F.sqrt(F.col("sumsq").cast("double")), 4))
        .orderBy("doc_id")
    )


def extract_embed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end semantic pipeline, rows-only: extraction (boilerplate
    strip + field extraction over the pages shape) -> deterministic
    embedding of the EXTRACTED text -> brute-force cosine top-10 against
    a fixed query embedding. This is the reference's full
    process-invoice -> embeddings -> semantic-search loop
    (index.ts:4181-5519) with the network stages replaced by the
    deterministic embedder; no oracle because the extraction UDF is not
    SQL-expressible.

    Scale: extraction+embed fuse into one map stage; the top-k is a
    TakeOrdered (no global sort); the query vector is a literal (no
    driver collect)."""
    from facturas_spark.extraction.embed import embed_udf, embed_vector
    from facturas_spark.pipeline import extract_pages

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    pages = docs.select(
        F.concat(F.lit("synthetic://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    extracted = extract_pages(pages).select("url", "extracted_text")
    emb = extracted.withColumn("embedding", embed_udf("extracted_text")).filter(
        F.col("embedding").isNotNull()
    )
    qvec = embed_vector("aceite de oliva virgen extra")
    emb = emb.withColumn(
        "qe", F.array(*[F.lit(float(x)) for x in qvec])
    )
    return (
        emb.select(
            "url", F.round(_cosine("embedding", "qe"), 4).alias("cos_sim")
        )
        .orderBy(F.desc("cos_sim"), "url")
        .limit(10)
    )


def embed_neighbor_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable facet of the semantic-search loop (round-7
    directive: ``extract_embed_ann`` is rows-only because its extraction
    UDF is not SQL-expressible — this query pins the OTHER half of that
    pipeline, the deterministic embedder + pairwise cosine arithmetic,
    with a DuckDB twin): over doc_id < 150 raw texts, the signed
    char-3-gram count vectors (extraction/embed.py's exact bucket/sign
    rule, pre-normalization so every component is an INTEGER), and the
    neighbor SET under an integer-exact predicate:

        dot > 0  AND  16 * dot^2 >= 9 * sumsq_i * sumsq_j   (cos >= 0.75)

    All comparisons are integer, so the keep set cannot drift on float
    rounding across engines; cos_sim is emitted for inspection and IS
    cross-engine bit-stable anyway (same integers through IEEE sqrt /
    divide in both). Deterministic order (doc_id, neighbor_id).

    Scale: the pair join is brute-force on the bounded window (the demo
    oracle); the production path buckets by sign-LSH first
    (dedup_embedding_lsh / ann_lsh_buckets) and applies the same integer
    predicate inside buckets.

    Round 8: each side is ONE mapInPandas pass emitting (doc_id, e, s) —
    the pandas_udf + fold form re-evaluated the embedder UDF twice per
    side (filter + project each got an ArrowEvalPython node) and ran the
    sum-of-squares as an interpreted per-element lambda; sumsq now comes
    from the same int64 vector in numpy (integer adds — order-exact), and
    the pair dot takes the unrolled codegen long kernel (:func:`_dot_long`,
    bit-identical to the fold). Measured 1.6 s -> ~0.5 s noop at sf0.1.

    Calling this function launches Spark jobs: it runs an eager
    ``localCheckpoint`` while building the plan, and the checkpointed
    blocks stay pinned until ``cache.release_session_cache`` (or until
    an enclosing ``cache.scratch_scope`` exits)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)

    def vec_batches(batches):
        import pandas as pd

        # the ONE signed-gram kernel (extraction/embed.py) — reusing it
        # keeps this facet pinned to the embedder it claims to pin
        from facturas_spark.extraction.embed import embed_counts

        for pdf in batches:
            if pdf.empty:
                continue
            es = [embed_counts(t) for t in pdf["text"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "e": [v.tolist() for v in es],
                    "s": [int((v * v).sum()) for v in es],
                }
            )

    vecs = docs.select("doc_id", "text").mapInPandas(
        vec_batches, schema="doc_id bigint, e array<long>, s bigint"
    ).filter(F.col("s") > 0)
    # both join sides read this 150-row frame — checkpoint materializes
    # the (serial) embedder stage ONCE per invocation instead of once per
    # branch (tracked: released by release_session_cache)
    from facturas_spark.analytics.cache import tracked_checkpoint

    vecs = tracked_checkpoint(vecs)
    a = vecs.select(
        F.col("doc_id").alias("id1"), F.col("e").alias("e1"), F.col("s").alias("s1")
    )
    b = vecs.select(
        F.col("doc_id").alias("id2"), F.col("e").alias("e2"), F.col("s").alias("s2")
    )
    dot = _dot_long("e1", "e2")
    return (
        a.join(b, a.id1 < b.id2)
        .withColumn("dot", dot)
        .filter(
            (F.col("dot") > 0)
            & (
                16 * F.col("dot") * F.col("dot")
                >= 9 * F.col("s1") * F.col("s2")
            )
        )
        .select(
            F.col("id1").alias("doc_id"),
            F.col("id2").alias("neighbor_id"),
            "dot",
            F.round(
                F.col("dot")
                / F.sqrt(F.col("s1").cast("double") * F.col("s2").cast("double")),
                4,
            ).alias("cos_sim"),
        )
        .orderBy("doc_id", "neighbor_id")
    )


def corpus_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head (tokenizer/vocab building): explode words ->
    count -> top 50 by (count desc, token asc). One partial-agg shuffle on
    the token; the top-k is a TakeOrdered, not a global sort of the
    vocabulary."""
    docs = _t_fan(spark, sf_dir, "documents", "doc_id")
    return (
        docs.select(F.explode(_words(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("occurrences"))
        .orderBy(F.desc("occurrences"), "token")
        .limit(50)
    )


def txt_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication scan (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — the suffix-array exact
    substring pass, re-expressed relationally): every 20-word window of
    every doc becomes an md5 fingerprint; a span is DUPLICATED when its
    fingerprint occurs more than once in the corpus (within- or
    cross-document, the paper's definition). Per doc: window count,
    duplicated-window count, duplicated fraction.

    Scale shape: explode windows -> one count shuffle on the fingerprint
    -> one doc_id reduce; fingerprints replace the suffix array (the
    array finds arbitrary-length repeats; fixed-K windows are the
    standard relational approximation and what the paper's 50-token
    threshold pass computes). No pairwise comparison anywhere.

    Round-8 shape (guide §2.3/§2.4): the original form exploded the span
    list TWICE (once into the count aggregate, once into the probe side
    of a spans⨝counts join) and shuffled 32-char md5 strings three times.
    Fingerprints are internal — only hash EQUALITY matters — so spans now
    carry xxhash64 of the window's word slice (8-byte long key, no
    concat_ws string build), the corpus-wide occurrence count comes from
    ONE count window over the single exploded span table (one exchange on
    h instead of three), and the per-doc reduce shuffles only the two
    count columns. Result identical to the md5 form modulo 64-bit hash
    collisions (~1e-9 at the oracle scales)."""
    K = 20
    docs = _t_fan(spark, sf_dir, "documents", "doc_id").filter(
        F.trim(F.coalesce(F.col("text"), F.lit(""))) != ""
    )
    words = _words(F.col("text"))
    base = docs.select("doc_id", words.alias("w")).filter(F.size("w") >= K)
    spans = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - K),
                lambda i: F.xxhash64(F.slice("w", i + 1, K)),
            )
        ).alias("h"),
    )
    w_h = Window.partitionBy("h")
    return (
        spans.withColumn("c", F.count("*").over(w_h))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_frac", F.round(F.col("n_dup_spans") / F.col("n_spans"), 4)
        )
        .orderBy("doc_id")
    )


DECON_K = 13  # GPT-3-appendix-C n-gram width


def _kgram_hashes(df: DataFrame, k: int, family: str = "md5") -> DataFrame:
    """(doc_id, h) rows: fingerprint of every k-word window of column
    ``w`` (a pre-tokenized array). Shared by the decontamination query
    and the clean-job pre-filter so the fingerprint family can't drift.

    ``family``: "md5" (default — DuckDB-identical, the oracle path) or
    "xxhash64" (Spark's native 64-bit integer hash — the production
    family; membership decisions only depend on hash EQUALITY, so the
    two families make identical contamination calls, pinned by
    tests/test_corpus_clean.py::test_decontamination_families_agree).
    The xxhash64 family hashes the word-slice ARRAY directly — no
    concat_ws string materialization per window (guide §4.2's "re-slice,
    don't copy" applied to the JVM side); words are whitespace-split so
    the two families fingerprint identical window identities."""
    if family == "xxhash64":
        win = lambda i: F.xxhash64(F.slice("w", i + 1, k))  # noqa: E731
    else:
        win = lambda i: F.md5(  # noqa: E731
            F.concat_ws(" ", F.slice("w", i + 1, k))
        )
    return df.select(
        "doc_id",
        F.explode(
            F.transform(F.sequence(F.lit(0), F.size("w") - k), win)
        ).alias("h"),
    )


def txt_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination scan (GPT-3 appendix C / PaLM style,
    public papers): a training document is CONTAMINATED when it shares
    any 13-word n-gram with an evaluation-benchmark document. The
    "benchmark" here is the deterministic slice doc_id % 97 == 0 (a
    stand-in for the real eval set a lab would broadcast); every other
    doc with >= 13 words is scanned.

    Scale shape: the benchmark n-gram set is SMALL by nature (eval sets
    are thousands of docs, not billions) -> its md5 fingerprints are
    broadcast; the corpus side explodes its 13-gram fingerprints and
    broadcast-hash-joins them — no shuffle of the corpus beyond the final
    per-doc count reduce, so the scan stays a map-side pass at 100 TB.
    Same fingerprint technique as txt_substring_dup (fixed-K windows
    replacing the suffix array).

    Round-8: fingerprints switched to the xxhash64 production family
    (integer keys, no per-window concat_ws/md5 string build — guide §2.3
    narrower types + §4.2). Both sides use the same family, so the
    contamination decisions are unchanged (pinned by
    test_decontamination_families_agree).

    Calling this function launches Spark jobs: it runs an eager
    ``localCheckpoint`` while building the plan, and the checkpointed
    blocks stay pinned until ``cache.release_session_cache`` (or until
    an enclosing ``cache.scratch_scope`` exits)."""
    K = DECON_K
    docs = _t_fan(spark, sf_dir, "documents", "doc_id")
    is_bench = F.col("doc_id") % 97 == 0
    words = _words(F.col("text"))

    base = docs.select("doc_id", words.alias("w")).filter(F.size("w") >= K)
    # referenced THREE times below (bench slice, train hits, n_spans) —
    # materialize the scan+fan+tokenize once per invocation instead of
    # per branch (round 8; 2.51 -> 2.14 s at the sf1 shape, 1.10 -> 0.85
    # at sf0.1). At cluster scale this is the persisted tokenized-corpus
    # staging table every LM pipeline keeps (_bpe_token_seq docstring);
    # no shuffle is added — the checkpoint is an executor-local write.
    from facturas_spark.analytics.cache import tracked_checkpoint

    base = tracked_checkpoint(base)
    bench = (
        _kgram_hashes(base.filter(is_bench), K, family="xxhash64")
        .select("h")
        .distinct()
    )
    train = base.filter(~is_bench)
    hits = (
        _kgram_hashes(train, K, family="xxhash64")
        .join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        train.select("doc_id", (F.size("w") - K + 1).cast("bigint").alias("n_spans"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


def txt_bigram_lm_ppl(
    spark: SparkSession,
    sf_dir: str,
    tercile_mode: str = "offset",
) -> DataFrame:
    """CCNet-style LM-perplexity filter with head/middle/tail buckets
    (Wenzek et al. 2020, public paper — CCNet scores docs under a
    Wikipedia KenLM and keeps perplexity terciles; here the LM is an
    interpolated bigram model trained on the corpus's own reference
    slice, doc_id % 7 == 0, the in-sandbox stand-in for the external
    clean corpus). Per doc over its bigrams (w1,w2):

        p = LAMBDA * c2(w1 w2)/c1(w1)  +  (1-LAMBDA) * (cu(w2)+1)/(N+V)

    with c2/c1 from the reference slice (0 when unseen — the add-one
    unigram back-off floor keeps p > 0), nll = mean(-ln p) rounded to 4
    (the float-determinism guard the unigram twin established), ppl =
    round(exp(nll_r), 2), bucket = ntile(3) over the deterministic
    (nll_r, doc_id) order — head = lowest perplexity, CCNet's keep-set.

    ``tercile_mode`` picks how the terciles are realized — both forms
    produce IDENTICAL buckets (property-pinned, tests/test_quality_ops2):

    * ``"offset"`` (default, the 100-TB shape): the LM tables become
      BROADCAST joins and the tercile split needs NO global window.
      ntile's bucket of a row is a pure function of its global rank in
      (nll, doc_id) order; rank = (rows with smaller nll) + (rank by
      doc_id within the tie group). The first term comes from a driver
      histogram of the rounded nll values — bounded by the 1e-4
      rounding grid (nll < ~30 → ≤ ~300k distinct values, independent
      of corpus size), the one deliberate driver read here. Only the
      ≤ 2 value-groups STRADDLING a cut need the within-group rank (a
      row_number partitioned BY VALUE — never a single global
      partition); every other group's bucket is decided wholesale.
    * ``"window"`` — the literal ntile(3) reference form the oracle
      twin mirrors; kept as the equality baseline.

    Scale shape: bigram extraction is a map (zip_with over two slices —
    NOT an index transform, which would re-evaluate the words array per
    element); the model tables build with one token-keyed partial-agg
    shuffle each; scoring is two key joins (bigram string, context
    word) + per-doc agg. At 100 TB the model tables are the Zipf-headed
    TOP slices broadcast with the back-off floor as OOV default, making
    scoring map-side. Docs with < 2 tokens have no bigrams and are
    absent from the output (both engines)."""
    if tercile_mode not in ("offset", "window"):
        raise ValueError(
            f"tercile_mode must be 'offset' or 'window', got {tercile_mode!r}"
        )
    per_doc = _bigram_per_doc(
        spark, sf_dir, broadcast_lm=(tercile_mode == "offset")
    )
    from pyspark.sql.window import Window as _W

    final_cols = [
        "doc_id",
        "n_bigrams",
        "nll",
        F.round(F.exp("nll"), 2).alias("ppl"),
        F.col("bucket"),
    ]

    if tercile_mode == "window":
        # the literal reference form: one global ntile window (a single
        # fat task at corpus scale — kept only as the equality baseline)
        tercile = F.ntile(3).over(_W.orderBy("nll", "doc_id"))
        return (
            per_doc.withColumn("tercile", tercile)
            .withColumn(
                "bucket",
                F.when(F.col("tercile") == 1, F.lit("head"))
                .when(F.col("tercile") == 2, F.lit("middle"))
                .otherwise(F.lit("tail")),
            )
            .select(*final_cols)
            .orderBy("doc_id")
        )

    # offset mode: reproduce ntile(3) over (nll, doc_id) EXACTLY with no
    # global window. Materialize per_doc — it feeds both the histogram
    # action and the final frame (AQE would re-execute the scoring DAG
    # once per reference otherwise, the round-6 lesson). Via
    # session_cached, not a bare localCheckpoint: the blocks are
    # registered for scoped release (a bare checkpoint per call leaked
    # one frame per invocation until session teardown — review fix) and
    # repeated calls (bench best-of reps, verify) reuse the scoring pass.
    from facturas_spark.analytics.cache import session_cached

    per_doc = session_cached(
        spark,
        sf_dir,
        "bigram-perdoc",
        lambda: per_doc,
    )
    hist = sorted(
        (r["nll"], r["cnt"])
        for r in per_doc.groupBy("nll").agg(F.count("*").alias("cnt")).collect()
    )
    n = sum(c for _, c in hist)
    base, rem = divmod(n, 3)
    t1 = base + (1 if rem >= 1 else 0)
    t2 = t1 + base + (1 if rem >= 2 else 0)

    def _bucket_of(rank: int) -> str:
        return "head" if rank <= t1 else ("middle" if rank <= t2 else "tail")

    whole: list[tuple[float, str]] = []  # value-groups wholly in one bucket
    straddle: dict[float, int] = {}  # value -> rank offset; <= 2 entries
    cum = 0
    for v, cnt in hist:
        if _bucket_of(cum + 1) == _bucket_of(cum + cnt):
            whole.append((float(v), _bucket_of(cum + 1)))
        else:
            straddle[float(v)] = cum
        cum += cnt

    whole_df = spark.createDataFrame(whole, "nll double, bucket string")
    out = per_doc.join(F.broadcast(whole_df), "nll").select(
        "doc_id", "n_bigrams", "nll", "bucket"
    )
    if straddle:
        # within-tie rank: row_number partitioned BY VALUE — at most two
        # small tie groups ever reach this window, never a global one
        rn = F.row_number().over(_W.partitionBy("nll").orderBy("doc_id"))
        off = F.lit(None).cast("long")
        for v, o in straddle.items():
            off = F.when(F.col("nll") == v, F.lit(o)).otherwise(off)
        g = off + rn
        bucket = (
            F.when(g <= t1, F.lit("head"))
            .when(g <= t2, F.lit("middle"))
            .otherwise(F.lit("tail"))
        )
        bnd = (
            per_doc.filter(F.col("nll").isin(list(straddle)))
            .withColumn("bucket", bucket)
            .select("doc_id", "n_bigrams", "nll", "bucket")
        )
        out = out.unionByName(bnd)
    return out.select(*final_cols).orderBy("doc_id")


def _bigram_per_doc(
    spark: SparkSession,
    sf_dir: str,
    broadcast_lm: bool,
) -> DataFrame:
    """The scoring stage of txt_bigram_lm_ppl, pre-tercile: one row per
    doc with >= 2 tokens, (doc_id, n_bigrams, nll). Exposed separately
    so plan tests can assert the broadcast_lm form's three
    BroadcastHashJoins without the tercile stage's eager checkpoint
    erasing the upstream plan."""
    LAMBDA = 0.7
    docs = _t_fan(spark, sf_dir, "documents", "doc_id")
    words = docs.select("doc_id", _words(F.col("text")).alias("w")).filter(
        F.size("w") >= 2
    )
    big = words.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("w"), 1, F.size("w") - 1),
                F.slice(F.col("w"), 2, F.size("w") - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bg"),
    ).withColumn("w1", F.substring_index("bg", " ", 1)).withColumn(
        "w2", F.substring_index("bg", " ", -1)
    )

    train = docs.filter(F.col("doc_id") % 7 == 0)
    tr_words = train.select("doc_id", _words(F.col("text")).alias("w"))
    uni = (
        tr_words.select(F.explode("w").alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("cu"))
    )
    totals = uni.agg(F.sum("cu").alias("n_total"), F.count("*").alias("v_size"))
    bi = (
        tr_words.filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("w"), 1, F.size("w") - 1),
                    F.slice(F.col("w"), 2, F.size("w") - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("bg")
        )
        .groupBy("bg")
        .agg(F.count("*").alias("c2"))
    )

    if broadcast_lm:
        # 100-TB shape: broadcast the LM tables so scoring is
        # a map-side pass (three BroadcastHashJoins, zero corpus-side
        # shuffle before the per-doc agg)
        uni_j, bi_j = F.broadcast(uni), F.broadcast(bi)
    else:
        uni_j, bi_j = uni, bi

    p_bi = F.coalesce(F.col("c2"), F.lit(0)).cast("double") / F.coalesce(
        F.col("c1"), F.lit(1)
    )
    p_uni = (F.coalesce(F.col("cu"), F.lit(0)) + 1).cast("double") / (
        F.col("n_total") + F.col("v_size")
    )
    scored = (
        big.join(bi_j, "bg", "left")
        .join(
            uni_j.select(F.col("t").alias("w1"), F.col("cu").alias("c1")),
            "w1",
            "left",
        )
        .join(uni_j.select(F.col("t").alias("w2"), "cu"), "w2", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            # 0.3 literal, NOT 1 - LAMBDA: python computes
            # 0.30000000000000004 while the DuckDB twin parses 0.3 —
            # different doubles, and the nll round-guard shouldn't have
            # to absorb an avoidable drift
            (-F.log(F.lit(LAMBDA) * p_bi + F.lit(0.3) * p_uni)).alias("nl"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.round(F.avg("nl"), 4).alias("nll"),
    )
    # nll is NULL iff the training slice (doc_id%7==0) has NO tokens:
    # n_total aggregates over an empty uni table to NULL, which poisons
    # p_uni for EVERY doc at once (p_bi/p_uni are otherwise coalesced
    # non-null and p_uni > 0, so partial NULLs cannot occur). With no LM
    # there is nothing to score — drop the rows rather than hand the
    # offset-mode driver histogram (or ntile, whose NULL ordering
    # differs between Spark and DuckDB) an undefined value. The oracle
    # twin carries the same `nll IS NOT NULL` guard before its ntile.
    return per_doc.filter(F.col("nll").isNotNull())


def txt_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram-LM quality score (the CCNet/Wikipedia-LM filter
    family, Wenzek et al. 2020, public paper — here the LM is the
    corpus's own add-one-smoothed unigram model instead of KenLM): per
    doc, mean negative log-likelihood of its tokens under
    p(t) = (count(t)+1) / (T+V). Low = head-heavy/templated text,
    high = rare-token soup; both tails are filter candidates.

    Scale shape: one token-keyed partial-agg shuffle builds the vocab;
    the corpus totals (T, V) are a 1-row broadcast; scoring joins
    exploded tokens to the vocab — at 100 TB the join side is the
    Zipf-headed vocab TOP slice broadcast with an OOV floor, making the
    score a map-side pass (the exact-join form here is the oracle).

    Calling this function launches Spark jobs: it runs an eager
    ``localCheckpoint`` while building the plan, and the checkpointed
    blocks stay pinned until ``cache.release_session_cache`` (or until
    an enclosing ``cache.scratch_scope`` exits)."""
    docs = _t_fan(spark, sf_dir, "documents", "doc_id")
    # the token stream feeds BOTH the vocab build and the scoring join —
    # materialize the scan+fan+TOKENIZE once (round 8; 1.69 -> 1.56 s at
    # the sf1 shape, 0.88 -> 0.71 at sf0.1) and explode per branch: the
    # checkpointed frame is the tokenized-corpus staging table (array
    # rows, corpus-sized), never the exploded stream (token-count-sized)
    from facturas_spark.analytics.cache import tracked_checkpoint

    base = tracked_checkpoint(
        docs.select("doc_id", _words(F.col("text")).alias("w"))
    )
    toks = base.select("doc_id", F.explode("w").alias("token"))
    vocab = toks.groupBy("token").agg(F.count("*").alias("c"))
    totals = vocab.agg(
        F.sum("c").alias("t_total"), F.count("*").alias("v_size")
    )
    logp = F.log(
        (F.col("c") + 1).cast("double") / (F.col("t_total") + F.col("v_size"))
    )
    scored = vocab.crossJoin(F.broadcast(totals)).select(
        "token", logp.alias("lp")
    )
    # round 8: broadcast the scored vocab — the docstring's 100 TB shape,
    # now also the executed plan. The exploded token stream (the huge
    # side) no longer shuffles+sorts for a sort-merge join on the token;
    # scoring is a map-side broadcast-hash probe and the only token-
    # stream shuffle left is the final per-doc reduce (guide §3.1).
    # Size-gated: past VOCAB_BROADCAST_MAX_BYTES of corpus the hint
    # drops and the join reverts to the shuffle plan.
    return (
        toks.join(_maybe_broadcast_vocab(sf_dir, scored), "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.round(F.avg(-F.col("lp")), 4).alias("nll"),
        )
        .orderBy("doc_id")
    )


SEMDEDUP_THRESHOLD = 0.2


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public paper): cluster embeddings
    with a coarse codebook, then prune SEMANTIC duplicates — pairs whose
    cosine exceeds a threshold — WITHIN each cluster only, keeping the
    lowest-id member of every duplicate group. The clustering bounds the
    pairwise comparison to O(sum of cell^2) instead of O(N^2), which is
    the paper's entire scaling argument.

    Codebook: vectors vec_id 1..8 (the same deterministic k-means
    stand-in as ann_ivf_topk); window bounded to vec_id < 200 so the
    oracle pins every pair. A vector is DROPPED when an earlier (lower
    vec_id) vector in its cell has cosine >= 0.2 with it. Plan:
    centroids broadcast, one window argmax for assignment, the
    within-cell self-join keys on the cell id — no theta join across
    cells."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    cents = (
        emb.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= 8))
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce"))
    )
    assigned = (
        emb.crossJoin(F.broadcast(cents))
        .select(
            "vec_id", "embedding", "cent_id",
            _cosine_small("embedding", "ce").alias("_s"),
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.col("_s").desc(), F.col("cent_id")
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .select("vec_id", "embedding", F.col("cent_id").alias("cell"))
    )
    a = assigned.select("cell", F.col("vec_id").alias("id1"), F.col("embedding").alias("e1"))
    b = assigned.select("cell", F.col("vec_id").alias("id2"), F.col("embedding").alias("e2"))
    dup_pairs = (
        a.join(b, "cell")
        .filter(F.col("id1") < F.col("id2"))
        .filter(F.round(_cosine_small("e1", "e2"), 4) >= SEMDEDUP_THRESHOLD)
        .select(F.col("id2").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        assigned.join(dup_pairs, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            (~F.coalesce("is_dup", F.lit(False))).alias("keep"),
        )
        .orderBy("vec_id")
    )


def txt_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document tf-idf keyword extraction (corpus indexing /
    search-feature staple): top-3 tokens per doc. The tfidf column is
    the classic tf * ln(N/df) weight; the RANKING is the integer-exact
    order (tf DESC, df ASC, token ASC) so both engines agree bit-for-bit
    — for a fixed doc it matches the tfidf order whenever tf agrees, and
    it never depends on cross-engine libm ulps.

    Scale shape: two token-keyed partial-agg shuffles (per-doc tf,
    corpus df) + one doc-keyed window for the top-3; the corpus doc
    count is a 1-row broadcast. df is Zipf-headed, so at 100 TB the df
    side broadcasts its head exactly like the unigram-LM vocab."""
    docs = _t_fan(spark, sf_dir, "documents", "doc_id")
    toks = docs.select("doc_id", F.explode(_words(F.col("text"))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = (
        tf.select("doc_id", "token")
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )
    n_docs = docs.filter(F.size(_words(F.col("text"))) > 0).agg(
        F.count("*").alias("n_docs")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token").asc()
    )
    # round 8: broadcast the df table (vocab-sized, the Zipf-headed side
    # the docstring already promises to broadcast at 100 TB) — the tf
    # table no longer reshuffles+sorts on the token for a sort-merge
    # join; the only remaining tf shuffles are its own build and the
    # doc-keyed top-3 window (guide §3.1)
    return (
        tf.join(_maybe_broadcast_vocab(sf_dir, df_), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            "rank",
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4
            ).alias("tfidf"),
        )
        .orderBy("doc_id", "rank")
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

    docs = _t_fan(spark, sf_dir, "documents", "doc_id").select("doc_id")
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

    docs = _t_fan(spark, sf_dir, "documents", "doc_id").select("doc_id")
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


def txt_charset_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FTFY-lite text normalization (the mojibake/charset-cleanup stage of
    every public webtext pipeline): strip C0 control characters (JVM
    regex) then Unicode-NFC-normalize. Spark has no NFC built-in, so the
    NFC step is an Arrow-batched pandas UDF — a documented Python
    exemption like the hash embedder; everything else stays JVM-side.

    Exercised on deterministic suffixes (combining-mark NFD, precomposed
    NFC, control-char, clean) appended per doc_id so the oracle pins each
    branch; lengths are code-point counts in BOTH engines. Pure map
    stage — fuses into the scan at 100 TB."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    # NOTE: no type hints — ``from __future__ import annotations`` makes
    # them strings, which pandas_udf cannot resolve for a local function
    @pandas_udf(StringType())
    def nfc(s):
        import unicodedata

        # ASCII fast path (round 8): NFC is the identity on pure-ASCII
        # text and str.isascii() is a C-speed scan, so only the rows
        # carrying non-ASCII suffixes pay the normalize call
        return s.map(
            lambda x: (
                x
                if not isinstance(x, str) or x.isascii()
                else unicodedata.normalize("NFC", x)
            )
        )

    docs = _t_fan(spark, sf_dir, "documents", "doc_id").select("doc_id", "text")
    d = F.col("doc_id")
    suffix = (
        F.when(d % 4 == 0, F.lit(" cafe\u0301"))   # NFD combining mark -> collapses
        .when(d % 4 == 1, F.lit(" caf\u00e9"))     # already NFC
        .when(d % 4 == 2, F.lit(" bell\u0007x"))   # C0 control char
        .otherwise(F.lit(""))
    )
    raw = F.concat(F.coalesce(F.col("text"), F.lit("")), suffix)
    stripped = F.regexp_replace(raw, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", "")
    out = docs.select("doc_id", raw.alias("raw"), nfc(stripped).alias("clean"))
    return out.select(
        "doc_id",
        F.length("raw").alias("len_raw"),
        F.length("clean").alias("len_clean"),
        (F.col("clean") != F.col("raw")).alias("changed"),
    ).orderBy("doc_id")


CHUNK_TOKENS = 32   # demo-scale; production uses ~512
CHUNK_OVERLAP = 8   # stride = CHUNK_TOKENS - CHUNK_OVERLAP


def corpus_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window training-chunk split with overlap (the pretraining
    tokenize-and-chunk stage — every public LM data pipeline ends here):
    each doc explodes into chunks of CHUNK_TOKENS words starting every
    (CHUNK_TOKENS - CHUNK_OVERLAP) words; the final ragged chunk keeps
    its true length. Emits per chunk: ordinal, start offset, token count
    and an md5 fingerprint of the chunk text (the join key for chunk-
    level dedup/shuffling downstream).

    Complements corpus_packing: packing GROUPS short docs up to a token
    budget; chunking SPLITS long docs down to the window. Scale shape:
    pure map + explode, no shuffle beyond the presentation sort — the
    chunk fingerprint feeds the same count/dedup machinery as
    txt_substring_dup at 100 TB."""
    # chunk windows denominated in REAL BPE tokens (extraction/bpe.py)
    # since round 5 — offsets/fingerprints index the token stream a
    # trainer would see, not a whitespace approximation. The token
    # SEQUENCE comes from the shared session-cached tokenized-corpus
    # frame (round-7 directive: round 6 cached only the vocab, leaving
    # chunking to pay the posexplode + join + collect_list rebuild on
    # every call — _bpe_token_seq docstring for the staging-table shape).
    stride = CHUNK_TOKENS - CHUNK_OVERLAP
    base = _bpe_token_seq(spark, sf_dir).filter(F.size("w") > 0)
    n = F.size("w")
    # windows stop at the FIRST one whose end reaches the doc end (the
    # HF-tokenizers overflow/stride rule) — only the last chunk is ragged
    # and no window is fully contained in its predecessor
    max_i = F.greatest(
        F.lit(0), F.floor((n - CHUNK_TOKENS + stride - 1) / stride)
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), max_i),
        lambda i: F.struct(
            i.alias("chunk_id"),
            (i * stride).alias("start"),
            F.least(F.lit(CHUNK_TOKENS), n - i * stride).alias("n_tokens"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.slice(
                        "w",
                        i * stride + 1,
                        F.least(F.lit(CHUNK_TOKENS), n - i * stride),
                    ),
                )
            ).alias("chunk_fp"),
        ),
    )
    return (
        base.select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", "c.chunk_id", "c.start", "c.n_tokens", "c.chunk_fp")
        .orderBy("doc_id", "chunk_id")
    )


MIXTURE_BUDGET = 200
# target lang mixture at MIXTURE_BUDGET docs (integer targets — exact in
# both engines; fractions are the classic Pile/Dolma mixture weights)
MIXTURE_TARGETS = {"en": 100, "es": 40, "fr": 30, "de": 20, "zh": 10}


def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture construction (the Pile/Dolma source-weighting
    stage, public practice): each language gets an integer doc target
    from the mixture table; docs are ranked per lang under the
    deterministic md5(doc_id) shuffle order (the same technique as
    corpus_source_quota) and kept while the target lasts.

    One lang-keyed window shuffle; the mixture table is a literal (at
    scale: a broadcast dim). Under-filled languages simply take what
    exists — the report row carries rank and keep so the funnel is
    auditable per doc."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    items = list(MIXTURE_TARGETS.items())
    target = F.when(F.col("lang") == items[0][0], F.lit(items[0][1]))
    for lang, t in items[1:]:
        target = target.when(F.col("lang") == lang, F.lit(t))
    target = target.otherwise(F.lit(0))
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.withColumn("target_n", target)
        .withColumn("rank", F.row_number().over(w))
        .withColumn("keep", F.col("rank") <= F.col("target_n"))
        .select("doc_id", "lang", "target_n", "rank", "keep")
        .orderBy("doc_id")
    )


def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", public paper): per doc,
    the mean log-ratio of an add-one-smoothed unigram LM of the TARGET
    domain (here: the corpus's en slice, the usual high-quality proxy)
    against the RAW-corpus LM over the shared vocabulary. Positive =
    closer to the target distribution; ``selected`` keeps those docs —
    the importance-resampling stage of a pretraining pipeline.

    Scale shape: two token-keyed partial-agg shuffles build the two
    count tables (one left-joins the other on the token), corpus totals
    are a 1-row broadcast, scoring is the same exploded-token join as
    txt_unigram_lm_score; at 100 TB the Zipf-headed vocab broadcasts.

    Calling this function launches Spark jobs: it runs an eager
    ``localCheckpoint`` while building the plan, and the checkpointed
    blocks stay pinned until ``cache.release_session_cache`` (or until
    an enclosing ``cache.scratch_scope`` exits)."""
    docs = _t_fan(spark, sf_dir, "documents", "doc_id")
    # the token stream feeds BOTH the vocab aggregate (broadcast branch —
    # AQE broadcast query stages never reuse exchanges) and the scoring
    # join: materialize the scan+fan+tokenize once per invocation, same
    # staging-table trade as txt_unigram_lm_score (round 8)
    from facturas_spark.analytics.cache import tracked_checkpoint

    base = tracked_checkpoint(
        docs.select("doc_id", "lang", _words(F.col("text")).alias("w"))
    )
    toks = base.select("doc_id", "lang", F.explode("w").alias("token"))
    # round 8: ONE conditional aggregate builds both count tables — the
    # raw and target LMs share the token key, so the second tokenize+
    # explode pass and the raw⨝tgt vocab join are pure waste (guide
    # §2.3 "aggregate before you shuffle"; c_tgt via conditional count
    # is value-identical to the old left-join + coalesce(0))
    vocab = toks.groupBy("token").agg(
        F.count("*").alias("c_raw"),
        F.count(F.when(F.col("lang") == "en", F.lit(1))).alias("c_tgt"),
    )
    totals = vocab.agg(
        F.sum("c_raw").alias("t_raw"),
        F.sum("c_tgt").alias("t_tgt"),
        F.count("*").alias("v_size"),
    )
    lr = F.log(
        (F.col("c_tgt") + 1).cast("double") / (F.col("t_tgt") + F.col("v_size"))
    ) - F.log(
        (F.col("c_raw") + 1).cast("double") / (F.col("t_raw") + F.col("v_size"))
    )
    scored = vocab.crossJoin(F.broadcast(totals)).select("token", lr.alias("lr"))
    # broadcast the scored vocab (same round-8 change as
    # txt_unigram_lm_score: map-side scoring, no token-keyed shuffle of
    # the exploded stream; size-gated by the same valve)
    return (
        toks.join(_maybe_broadcast_vocab(sf_dir, scored), "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            # + 0.0 canonicalizes IEEE -0.0 (a doc whose ratios cancel
            # rounds to negative zero in one engine and positive in the
            # other; -0.0 + 0.0 = +0.0 in both)
            (F.round(F.avg("lr"), 4) + F.lit(0.0)).alias("log_ratio"),
        )
        .withColumn("selected", F.col("log_ratio") > 0)
        .orderBy("doc_id")
    )


def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (the standard hash-split:
    stable under re-runs, insert-order-free, no RNG state): bucket =
    first 4 hex digits of md5(doc_id) as an integer in [0, 65536);
    train < 0.90, val < 0.95, test otherwise. Per-doc assignment plus
    the split's exact bucket value so audits can re-derive it.

    Pure map (one md5 + conv per row); the split survives any
    repartitioning or incremental append because it depends only on the
    key — the property RNG-based splits lack at 100 TB."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("int")
    split = (
        F.when(bucket < int(0.90 * 65536), F.lit("train"))
        .when(bucket < int(0.95 * 65536), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.withColumn("bucket", bucket)
        .withColumn("split", split)
        .orderBy("doc_id")
    )
