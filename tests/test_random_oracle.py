"""Randomized mini-gate: the driver's oracle check on RANDOM corpora.

The driver gate runs every twin on FIXED parquet — data-dependent
divergences (IEEE signed zero, NULL-vs-0 aggregation semantics, empty
groups, ties) can hide behind a lucky fixed dataset. This harness
generates small random ``documents`` tables with hostile shapes (empty
text, NULL text, duplicate docs, single-word docs, shared vocabulary)
and asserts Spark/DuckDB agreement for the documents-only registry
twins on each.

Alphabet stays ASCII: non-ASCII case folding is engine-specific and the
corpus operators' tokenization contract (lower + whitespace split) is
only pinned for ASCII.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tools.verify_local import normalize  # same comparator as the gate

# documents-only twins cheap enough to run per example
QUERIES = [
    "url_quality_filter",
    "dedup_url_normalize",
    "host_reputation_filter",
    "txt_token_stats",
    "txt_quality_score",
    "dedup_exact",
    # the clean chain is the one implementation of the corpus-cleaning
    # stages (langid ... packing), so its funnel twin is the one to check
    "corpus_clean_stats",
]

_WORDS = ["the", "of", "and", "cafe", "x1", "b2", "zz", "qq", "data", "row"]

doc_strategy = st.lists(
    st.tuples(
        st.one_of(
            st.none(),
            st.just(""),
            st.just("   "),
            st.lists(st.sampled_from(_WORDS), min_size=1, max_size=40).map(
                " ".join
            ),
        ),
        st.sampled_from(["en", "es", "zh", "fr", "de"]),
        st.sampled_from(["s0", "s1", "s2"]),
    ),
    min_size=1,
    max_size=25,
)


@pytest.fixture(scope="module")
def duck():
    import duckdb

    return duckdb.connect()


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=doc_strategy)
def test_documents_twins_agree_on_random_corpora(spark, duck, tmp_path_factory, docs):
    import __spark_entry__ as em

    rows = [
        (i, text, lang, src, len(text) if text else 0)
        for i, (text, lang, src) in enumerate(docs)
    ]
    out = tmp_path_factory.mktemp("rnd")
    pq = str(out / "documents.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(pq)

    duck.execute("DROP VIEW IF EXISTS documents")
    duck.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}/*.parquet')")

    qs = em.queries()
    oracles = em.oracle_sql()
    for name in QUERIES:
        sdf = qs[name](spark, str(out))
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        res = duck.execute(oracles[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        assert sorted(scols) == sorted(ocols), name
        assert len(srows) == len(orows), (name, len(srows), len(orows))
        assert normalize(srows, scols) == normalize(orows, ocols), name
