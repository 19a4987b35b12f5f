"""By-construction tests for the dedup chains.

The oracle gate checks cross-engine agreement; these tests pin the
SEMANTICS on a corpus whose ground-truth clusters are known by
construction: exact copies, near-copies (one word changed), and
unrelated documents.
"""

from __future__ import annotations

import pytest


def _flags(spark, docs, lsh_family: str = "md5") -> dict:
    """doc_id -> (s5, s6) of the clean chain's per-doc flags, built and
    collected inside one scratch scope."""
    from facturas_spark.analytics.cache import scratch_scope
    from facturas_spark.analytics.corpus_clean import per_doc_flags

    with scratch_scope(spark):
        rows = per_doc_flags(docs, lsh_family=lsh_family).collect()
    return {r["doc_id"]: (r["s5"], r["s6"]) for r in rows}


@pytest.fixture(scope="module")
def tiny_corpus(spark):
    # stopwords + markers so every full-length doc passes stages 1-3
    base = "the and of " + " ".join(f"word{i}" for i in range(60))
    near = base.replace("word30", "changed")      # ~90% shingle overlap
    docs = [
        (0, base),
        (1, base),                                # exact dup of 0
        (2, near),                                # near-dup of 0/1
        (3, "the and of " + " ".join(f"other{i}" for i in range(60))),  # unrelated
        (4, "tiny"),                              # too short for the chain
        (5, base + " tail1 tail2"),               # still >0.5 jaccard
    ]
    return spark.createDataFrame(
        [(i, t, "src") for i, t in docs], "doc_id long, text string, source string"
    )


def test_lsh_chain_finds_known_clusters(spark, tiny_corpus):
    """The clean chain keeps one doc per duplicate cluster, its min
    doc_id: the exact copy goes at stage 5, the near copies at stage 6
    (MinHash/LSH candidates -> Jaccard verify -> components); the
    unrelated doc survives both. Same decisions under either family."""
    for family in ("md5", "xxhash64"):
        flags = _flags(spark, tiny_corpus, family)
        assert flags[0] == (True, True), family
        assert flags[1][0] is False, family  # exact dup of 0
        assert flags[2] == (True, False) and flags[5] == (True, False), family
        assert flags[3] == (True, True), family  # unrelated: no verified pair
        assert flags[4] == (False, False), family  # fails the quality stages


def test_embedding_lsh_same_bucket_only(spark, tmp_path):
    """Candidates come only from sign-bucket collisions: opposite-sign
    vectors never pair even at cosine 1 with themselves; same-bucket
    near-identical vectors do."""
    from facturas_spark.analytics import dedup as D

    vecs = [
        (0, [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
        (1, [0.9, 1.1, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),   # same bucket, cos~1
        (2, [-1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0]),  # bucket 0
        (3, [-0.9, -1.1, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0]),  # bucket 0
    ]
    out = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>"
    ).write.parquet(out)
    rows = D.dedup_embedding_lsh(spark, str(tmp_path)).collect()
    pairs = {(r["id1"], r["id2"]) for r in rows}
    # 0-1 share bucket 255, 2-3 share bucket 0; cross-bucket pairs absent
    assert (0, 1) in pairs and (2, 3) in pairs
    assert (0, 2) not in pairs and (1, 3) not in pairs
    by_pair = {(r["id1"], r["id2"]): r["cos_sim"] for r in rows}
    assert by_pair[(0, 1)] > 0.99
    assert by_pair[(2, 3)] > 0.99  # negatives of each other: cos still ~1

def test_embedding_lsh_multiband_recall(spark, tmp_path):
    """Banding recovers pairs a single bucket misses: vectors 0/1 disagree
    on a dim inside band 0 (different band-0 keys) but share band 1 — the
    banded chain pairs them; a single 8-bit bucket could not."""
    from facturas_spark.analytics import dedup as D

    base = [1.0] * 16
    flip0 = [-1.0] + [1.0] * 15          # band-0 key differs, band-1 equal
    anti = [-1.0] * 16                   # differs in every band
    out = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        [(0, base), (1, flip0), (2, anti)],
        "vec_id long, embedding array<float>",
    ).write.parquet(out)
    rows = D.dedup_embedding_lsh(spark, str(tmp_path)).collect()
    pairs = {(r["id1"], r["id2"]) for r in rows}
    assert (0, 1) in pairs               # band-1 collision, cos ~0.875
    assert (0, 2) not in pairs           # no shared band key (and cos -1)
    assert (1, 2) not in pairs


def test_embedding_lsh_short_vectors_band_gated(spark, tmp_path):
    """Vectors shorter than a band's dim slice skip that band instead of
    colliding on a null-padded key: 8-dim vectors emit band 0 only."""
    from facturas_spark.analytics import dedup as D
    from facturas_spark.analytics.dedup import EMB_BAND_BITS, N_EMB_BANDS

    assert N_EMB_BANDS * EMB_BAND_BITS == 32
    vecs = [
        (0, [1.0] * 8),
        (1, [-1.0] * 8),   # opposite band-0 key; no higher bands exist
    ]
    out = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>"
    ).write.parquet(out)
    assert D.dedup_embedding_lsh(spark, str(tmp_path)).count() == 0


def _union_find_labels(edges):
    """Plain-Python reference for the component operators: union-find
    rooted at the component minimum, so every node's root is its
    expected cluster_id."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(x, find(x)) for x in parent}


def test_components_partitioned_path_identical(spark):
    """The cluster-scale layout (hash-partitioned N-way co-partitioned
    joins, no broadcast, no coalesce(1)) produces exactly the labels of
    the sandbox layout on a graph with a chain, a triangle, a 2-clique
    and an isolated pair. Both layouts also match a plain-Python
    union-find on fixed shapes — a DEEP chain (min-label's worst case,
    one loop round per link), a reversed pair, a self-loop — and on
    seeded random graphs."""
    import random

    from facturas_spark.analytics.dedup import _min_label_components

    def labels(df):
        return {(r["doc_id"], r["cluster_id"]) for r in df.collect()}

    edges = [
        (1, 2), (2, 3), (3, 4),        # chain -> cluster 1
        (10, 11), (11, 12), (10, 12),  # triangle -> cluster 10
        (20, 21),                      # pair -> cluster 20
        (30, 31),                      # pair -> cluster 30
    ]
    pairs = spark.createDataFrame(edges, "id1 long, id2 long")
    base = labels(_min_label_components(pairs))
    part = labels(_min_label_components(pairs, partitions=8))
    assert base == part
    assert base == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20), (30, 30), (31, 30),
    }

    shapes = [
        [(i, i + 1) for i in range(1, 30)],          # depth-29 chain
        [(2, 1)],                                    # reversed order pair
        [(5, 5), (6, 7)],                            # self-loop
    ]
    rng = random.Random(7)
    for _ in range(3):
        n = rng.randrange(5, 30)
        shapes.append(
            [(rng.randrange(n), rng.randrange(n)) for _ in range(n)]
        )
    for edges in shapes:
        want = _union_find_labels(edges)
        pairs = spark.createDataFrame(edges, "id1 long, id2 long")
        assert labels(_min_label_components(pairs)) == want, edges
        assert labels(_min_label_components(pairs, partitions=4)) == want, edges


def test_xxhash64_family_same_clusters(spark):
    """The production hash family (xxhash64 integer MinHash — no hex
    strings, ~4x cheaper) must make the same near-dup decisions as the
    DuckDB-portable md5 family on the test corpus: both are uniform hash
    families, so band collisions recover the same >=0.5-Jaccard pairs and
    the verify step makes the chain's keep set hash-family-independent."""
    from facturas_spark.analytics.corpus_clean import with_synth_pii

    docs = with_synth_pii(spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    md5 = _flags(spark, docs)
    assert _flags(spark, docs, "xxhash64") == md5
    assert any(s5 and not s6 for s5, s6 in md5.values())  # stage 6 dropped some


def test_components_adaptive_layout_threshold(spark, monkeypatch):
    """_component_layout auto-selects the N-way co-partitioned loop once
    the materialized pair count crosses COMPONENT_AUTO_THRESHOLD, with
    identical labels either side of the switch."""
    from facturas_spark.analytics import dedup as D
    from facturas_spark.analytics.dedup import (
        _component_layout,
        _min_label_components,
    )

    edges = [(i, i + 1) for i in range(0, 40, 2)]  # 20 disjoint pairs
    pairs = spark.createDataFrame(edges, "id1 long, id2 long")

    # below threshold: sandbox single-partition broadcast layout
    _, p = _component_layout(pairs, None)
    assert p is None

    with monkeypatch.context() as m:
        m.setattr(D, "COMPONENT_AUTO_THRESHOLD", 10)
        _, p = _component_layout(pairs, None)
        assert p is not None and p >= 2
        # the adaptive run (threshold crossed -> partitioned loop) keeps
        # exactly the labels of the explicit layouts
        want = {(a, a) for a, _ in edges} | {(b, a) for a, b in edges}
        got = {
            (r["doc_id"], r["cluster_id"])
            for r in _min_label_components(pairs).collect()
        }
        assert got == want

    # explicit argument always wins over the adaptive count
    _, p = _component_layout(pairs, 4)
    assert p == 4
