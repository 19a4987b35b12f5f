"""By-construction semantics tests for the late round-4 quality operators:
benchmark decontamination, corpus-unigram-LM scoring, SemDeDup semantic
dedup, and tf-idf keyword extraction. The oracle gate proves cross-engine
agreement; these pin the ground truth on corpora whose answers are known
by construction.
"""

from __future__ import annotations

import math

import pytest


@pytest.fixture(scope="module")
def decon_dir(spark, tmp_path_factory):
    """doc 0 is a benchmark doc (0 % 97 == 0); doc 1 embeds doc 0's full
    13-word text verbatim inside unrelated padding; doc 2 shares no
    13-gram with it; doc 3 is too short to have any 13-gram."""
    bench = " ".join(f"b{i}" for i in range(13))
    docs = [
        (0, bench, "en"),
        (1, "pad1 pad2 " + bench + " pad3 pad4", "en"),
        (2, " ".join(f"c{i}" for i in range(20)), "en"),
        (3, "short text only", "en"),
    ]
    out = tmp_path_factory.mktemp("decon")
    spark.createDataFrame(docs, "doc_id long, text string, lang string").write.parquet(
        str(out / "documents.parquet")
    )
    return str(out)


def test_decontamination_flags_verbatim_overlap(spark, decon_dir):
    from facturas_spark.analytics.dedup import txt_decontamination

    rows = {r["doc_id"]: r for r in txt_decontamination(spark, decon_dir).collect()}
    # benchmark docs never appear as training rows; too-short docs are out
    assert set(rows) == {1, 2}
    assert rows[1]["contaminated"] and rows[1]["n_hits"] == 1
    # doc 1 has 17 words -> 5 windows of 13
    assert rows[1]["n_spans"] == 5
    assert not rows[2]["contaminated"] and rows[2]["n_hits"] == 0
    assert rows[2]["n_spans"] == 8


@pytest.fixture(scope="module")
def lm_dir(spark, tmp_path_factory):
    """Corpus vocab: x appears 2x, y 1x -> T=3, V=2; add-one gives
    p(x)=3/5, p(y)=2/5."""
    docs = [(0, "x x", "en"), (1, "y", "en")]
    out = tmp_path_factory.mktemp("lm")
    spark.createDataFrame(docs, "doc_id long, text string, lang string").write.parquet(
        str(out / "documents.parquet")
    )
    return str(out)


def test_unigram_lm_exact_values(spark, lm_dir):
    from facturas_spark.analytics.dedup import txt_unigram_lm_score

    rows = {r["doc_id"]: r for r in txt_unigram_lm_score(spark, lm_dir).collect()}
    assert rows[0]["n_tokens"] == 2 and rows[1]["n_tokens"] == 1
    assert rows[0]["nll"] == round(-math.log(3 / 5), 4)   # 0.5108
    assert rows[1]["nll"] == round(-math.log(2 / 5), 4)   # 0.9163
    # common-token doc scores LOWER than rare-token doc
    assert rows[0]["nll"] < rows[1]["nll"]


@pytest.fixture(scope="module")
def sem_dir(spark, tmp_path_factory):
    """Embedding geometry with known cells: vec 1..8 are the codebook
    (near-orthogonal axes); vec 10/11 point along axis 1 (same cell as
    vec 1, cosine >= 0.2 -> dropped); vec 20 is orthogonal to every
    member of its tie-broken cell 1 -> kept."""
    def axis(i, dim=8):
        v = [0.0] * dim
        v[i % dim] = 1.0
        return v

    rows = [(i, axis(i - 1), 0) for i in range(1, 9)]
    rows += [
        (10, [1.0, 0.01] + [0.0] * 6, 0),
        (11, [0.9, 0.43] + [0.0] * 6, 0),
        (20, [0.0] * 7 + [-1.0], 0),
    ]
    out = tmp_path_factory.mktemp("sem")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(out / "embeddings.parquet"))
    return str(out)


def test_semdedup_drops_within_cell_neighbors(spark, sem_dir):
    from facturas_spark.analytics.dedup import dedup_semantic

    rows = {r["vec_id"]: r for r in dedup_semantic(spark, sem_dir).collect()}
    assert set(rows) == {1, 2, 3, 4, 5, 6, 7, 8, 10, 11, 20}
    # the codebook members each head their own cell -> kept
    assert all(rows[i]["keep"] for i in range(1, 9))
    # near-axis-1 vectors share vec 1's cell and exceed the threshold
    assert rows[10]["cell"] == 1 and not rows[10]["keep"]
    assert rows[11]["cell"] == 1 and not rows[11]["keep"]
    # orthogonal vector ties to cell 1 but matches nothing -> kept
    assert rows[20]["cell"] == 1 and rows[20]["keep"]


@pytest.fixture(scope="module")
def tfidf_dir(spark, tmp_path_factory):
    docs = [
        (0, "apple apple banana", "en"),
        (1, "banana cherry", "en"),
        (2, "cherry cherry cherry", "en"),
    ]
    out = tmp_path_factory.mktemp("tfidf")
    spark.createDataFrame(docs, "doc_id long, text string, lang string").write.parquet(
        str(out / "documents.parquet")
    )
    return str(out)


def test_tfidf_ranking_and_weights(spark, tfidf_dir):
    from facturas_spark.analytics.dedup import txt_tfidf_keywords

    rows = txt_tfidf_keywords(spark, tfidf_dir).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 0: apple (tf=2, df=1) outranks banana (tf=1, df=2)
    assert [r["token"] for r in by_doc[0]] == ["apple", "banana"]
    assert by_doc[0][0]["tfidf"] == round(2 * math.log(3 / 1), 4)
    assert by_doc[0][1]["tfidf"] == round(1 * math.log(3 / 2), 4)
    # doc 1: equal tf=1 -> lower df (nothing has df<2 here) -> token asc
    assert [r["token"] for r in by_doc[1]] == ["banana", "cherry"]
    # doc 2: single token, rank 1 only
    assert [r["token"] for r in by_doc[2]] == ["cherry"]
    assert by_doc[2][0]["tfidf"] == round(3 * math.log(3 / 2), 4)
    # ranks are 1..k dense per doc
    for doc_rows in by_doc.values():
        assert [r["rank"] for r in doc_rows] == list(range(1, len(doc_rows) + 1))


def test_charset_normalize_branches(spark, tmp_path_factory):
    """Each suffix branch behaves as constructed: NFD collapses (len
    shrinks by 1, changed), precomposed NFC is untouched, the control
    char is stripped (changed), clean text passes through."""
    docs = [(i, "plain words", "en") for i in range(4)]
    out = tmp_path_factory.mktemp("charset")
    spark.createDataFrame(docs, "doc_id long, text string, lang string").write.parquet(
        str(out / "documents.parquet")
    )
    from facturas_spark.analytics.dedup import txt_charset_normalize

    rows = {r["doc_id"]: r for r in txt_charset_normalize(spark, str(out)).collect()}
    assert rows[0]["changed"] and rows[0]["len_clean"] == rows[0]["len_raw"] - 1
    assert not rows[1]["changed"] and rows[1]["len_clean"] == rows[1]["len_raw"]
    assert rows[2]["changed"] and rows[2]["len_clean"] == rows[2]["len_raw"] - 1
    assert not rows[3]["changed"]


def test_chunking_covers_every_token_with_overlap(spark, tmp_path_factory):
    """Chunk windows tile the doc: starts advance by stride, every chunk
    except the last is full, the union of [start, start+n_tokens) covers
    [0, n), and consecutive chunks overlap by exactly CHUNK_OVERLAP
    (except a short tail)."""
    from facturas_spark.analytics.dedup import (
        CHUNK_OVERLAP,
        CHUNK_TOKENS,
        corpus_chunking,
    )

    n_words = 100
    docs = [(0, " ".join(f"w{i}" for i in range(n_words)), "en"), (1, "one", "en")]
    out = tmp_path_factory.mktemp("chunk")
    spark.createDataFrame(docs, "doc_id long, text string, lang string").write.parquet(
        str(out / "documents.parquet")
    )
    rows = corpus_chunking(spark, str(out)).collect()
    stride = CHUNK_TOKENS - CHUNK_OVERLAP
    # since round 5 chunk windows count REAL BPE tokens, not words —
    # the coverage denominator is the reference encoder's token count
    from facturas_spark.extraction import bpe

    n_tok = len(bpe.encode_py(docs[0][1]))
    assert n_tok > n_words  # 'w17' splits into subword units
    d0 = sorted((r for r in rows if r["doc_id"] == 0), key=lambda r: r["chunk_id"])
    assert [r["start"] for r in d0] == [i * stride for i in range(len(d0))]
    assert all(r["n_tokens"] == CHUNK_TOKENS for r in d0[:-1])
    last = d0[-1]
    assert last["start"] + last["n_tokens"] == n_tok  # full coverage
    # HF stride rule: stop at the first window reaching the end
    assert len(d0) == -(-(n_tok - CHUNK_TOKENS) // stride) + 1
    # short doc ('one' -> ['on', 'e']): one ragged chunk
    d1 = [r for r in rows if r["doc_id"] == 1]
    n_tok1 = len(bpe.encode_py(docs[1][1]))
    assert len(d1) == 1 and d1[0]["n_tokens"] == n_tok1 and d1[0]["start"] == 0
    # identical windows fingerprint identically (dedup join key contract)
    assert len({r["chunk_fp"] for r in d0}) == len(d0)


def test_mixture_sample_targets(spark, tmp_path_factory):
    """Per-lang targets honored exactly: under-supplied langs take all
    they have; over-supplied langs cut at the target under the
    deterministic md5 order; ranks are dense per lang."""
    docs = [(i, f"text {i}", "en") for i in range(3)]
    docs += [(100 + i, f"texto {i}", "zh") for i in range(12)]
    out = tmp_path_factory.mktemp("mix")
    spark.createDataFrame(docs, "doc_id long, text string, lang string").write.parquet(
        str(out / "documents.parquet")
    )
    from facturas_spark.analytics.dedup import MIXTURE_TARGETS, corpus_mixture_sample

    rows = corpus_mixture_sample(spark, str(out)).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    assert sum(r["keep"] for r in by_lang["en"]) == 3          # all (target 100)
    assert sum(r["keep"] for r in by_lang["zh"]) == MIXTURE_TARGETS["zh"]  # 10 of 12
    for lang, rs in by_lang.items():
        assert sorted(r["rank"] for r in rs) == list(range(1, len(rs) + 1))


def test_dsir_weights_separate_target_from_raw(spark, tmp_path_factory):
    """DSIR log-ratio is positive for docs made of target-domain tokens,
    negative for out-of-domain tokens, with hand-computed values."""
    import math

    docs = [
        (0, "good", "en"),
        (1, "good", "en"),
        (2, "bad", "zh"),
        (3, "bad", "zh"),
    ]
    out = tmp_path_factory.mktemp("dsir")
    spark.createDataFrame(docs, "doc_id long, text string, lang string").write.parquet(
        str(out / "documents.parquet")
    )
    from facturas_spark.analytics.dedup import corpus_dsir_weights

    rows = {r["doc_id"]: r for r in corpus_dsir_weights(spark, str(out)).collect()}
    # vocab: good (c_raw=2, c_tgt=2), bad (c_raw=2, c_tgt=0);
    # T_raw=4, T_tgt=2, V=2 -> lr(good)=ln(3/4)-ln(1/2), lr(bad)=ln(1/4)-ln(1/2)
    assert rows[0]["log_ratio"] == round(math.log(3 / 4) - math.log(1 / 2), 4)
    assert rows[2]["log_ratio"] == round(math.log(1 / 4) - math.log(1 / 2), 4)
    assert rows[0]["selected"] and rows[1]["selected"]
    assert not rows[2]["selected"] and not rows[3]["selected"]


def test_corpus_split_deterministic_and_proportioned(spark, tmp_path_factory):
    """Hash split: stable across runs and partitionings, every doc
    assigned exactly one split, proportions near 90/5/5 at 2000 docs."""
    docs = [(i, f"doc {i}", "en") for i in range(2000)]
    out = tmp_path_factory.mktemp("split")
    spark.createDataFrame(docs, "doc_id long, text string, lang string").write.parquet(
        str(out / "documents.parquet")
    )
    from facturas_spark.analytics.dedup import corpus_split

    a = {r["doc_id"]: r["split"] for r in corpus_split(spark, str(out)).collect()}
    b = {r["doc_id"]: r["split"] for r in corpus_split(spark, str(out)).collect()}
    assert a == b and len(a) == 2000
    from collections import Counter

    c = Counter(a.values())
    assert 0.87 < c["train"] / 2000 < 0.93
    assert 0.03 < c["val"] / 2000 < 0.07
    assert 0.03 < c["test"] / 2000 < 0.07


@pytest.fixture(scope="module")
def bigram_dir(spark, tmp_path_factory):
    """Train slice (doc_id % 7 == 0): doc 0 = 'a b a b a b', doc 7 =
    'c c' -> uni a:3 b:3 c:2 (N=8, V=3), bi 'a b':3 'b a':2 'c c':1.
    Scored-only docs: doc 1 repeats the trained phrase (head), doc 2 is
    OOV soup (tail)."""
    docs = [
        (0, "a b a b a b", "en"),
        (7, "c c", "en"),
        (1, "a b", "en"),
        (2, "z q", "en"),
    ]
    out = tmp_path_factory.mktemp("bigram")
    spark.createDataFrame(docs, "doc_id long, text string, lang string").write.parquet(
        str(out / "documents.parquet")
    )
    return str(out)


def test_bigram_lm_exact_values_and_buckets(spark, bigram_dir):
    from facturas_spark.analytics.dedup import txt_bigram_lm_ppl

    rows = {r["doc_id"]: r for r in txt_bigram_lm_ppl(spark, bigram_dir).collect()}
    # doc 7 ('c c') and all >=2-token docs present; doc with 1 token none here
    assert set(rows) == {0, 1, 2, 7}
    # doc 1 'a b': p = 0.7*(3/3) + 0.3*((3+1)/(8+3))
    assert rows[1]["nll"] == round(-math.log(0.7 + 0.3 * 4 / 11), 4)
    assert rows[1]["n_bigrams"] == 1
    # doc 2 'z q': both OOV -> p = 0.3*((0+1)/(8+3))
    assert rows[2]["nll"] == round(-math.log(0.3 * 1 / 11), 4)
    # trained-phrase doc is head, OOV soup is tail; ppl monotone with nll
    assert rows[1]["bucket"] == "head" and rows[2]["bucket"] == "tail"
    assert rows[1]["ppl"] < rows[2]["ppl"]


def test_bigram_tercile_modes_identical(spark, bigram_dir):
    """offset mode (broadcast LM slices + histogram-offset terciles) is
    bit-identical to the literal ntile(3) window form, including the
    straddling tie groups the offset path splits by within-value rank."""
    from facturas_spark.analytics.dedup import txt_bigram_lm_ppl

    win = [tuple(r) for r in
           txt_bigram_lm_ppl(spark, bigram_dir, tercile_mode="window").collect()]
    off = [tuple(r) for r in
           txt_bigram_lm_ppl(spark, bigram_dir, tercile_mode="offset").collect()]
    assert win == off


def test_bigram_tercile_modes_identical_with_ties(spark, tmp_path_factory):
    """Tie-heavy corpus: many docs share ONE nll value straddling both
    cuts — exactly the case value-threshold quantile cuts get wrong and
    the within-group rank handles; ntile equality must survive it."""
    from facturas_spark.analytics.dedup import txt_bigram_lm_ppl

    docs = [(0, "a b a b", "en")] + [
        (i, "a b", "en") for i in range(1, 14) if i % 7 != 0
    ]
    out = tmp_path_factory.mktemp("bigram_ties")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string"
    ).write.parquet(str(out / "documents.parquet"))
    sf = str(out)
    win = {r["doc_id"]: r["bucket"] for r in
           txt_bigram_lm_ppl(spark, sf, tercile_mode="window").collect()}
    off = {r["doc_id"]: r["bucket"] for r in
           txt_bigram_lm_ppl(spark, sf, tercile_mode="offset").collect()}
    assert win == off
    # the tie group really does straddle: all three buckets are present
    assert set(win.values()) == {"head", "middle", "tail"}


def test_bigram_offset_plan_has_no_global_window(spark):
    """Done-bar for the round-7 scale path: the default (offset) plan
    contains no ntile and no single-partition exchange; the scoring
    stage's three LM joins are all broadcast."""
    from facturas_spark.analytics.dedup import _bigram_per_doc, txt_bigram_lm_ppl

    sf = "/root/testdata/sf0.001"
    plan = txt_bigram_lm_ppl(spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "ntile" not in plan
    assert "SinglePartition" not in plan
    scoring = (
        _bigram_per_doc(spark, sf, broadcast_lm=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert scoring.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in scoring


def test_bigram_empty_training_slice_yields_no_rows(spark, tmp_path_factory):
    """Corpus whose %7 training slice has NO tokens (doc 0 is empty,
    doc 7 absent): n_total aggregates to NULL and every doc's nll is
    NULL at once — there is no LM to score against. Both tercile modes
    must return zero rows instead of crashing (the offset mode's driver
    histogram used to hit float(None)) or handing ntile NULLs whose
    ordering differs between Spark and DuckDB. Found by the random
    oracle fuzz; pinned here deterministically."""
    from facturas_spark.analytics.dedup import txt_bigram_lm_ppl

    docs = [(0, "", "en"), (1, "a b", "en"), (2, "z q", "en")]
    out = tmp_path_factory.mktemp("bigram_nolm")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string"
    ).write.parquet(str(out / "documents.parquet"))
    sf = str(out)
    for mode in ("offset", "window"):
        assert txt_bigram_lm_ppl(spark, sf, tercile_mode=mode).count() == 0


def test_bigram_tercile_mode_validation(spark, bigram_dir):
    from facturas_spark.analytics.dedup import txt_bigram_lm_ppl

    df = txt_bigram_lm_ppl(spark, bigram_dir, tercile_mode="window")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ntile" in plan  # the literal reference form
    with pytest.raises(ValueError, match="tercile_mode"):
        txt_bigram_lm_ppl(spark, bigram_dir, tercile_mode="bogus")
