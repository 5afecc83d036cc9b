"""Retrieval/data-selection surface: oracle parity for the three round-3
operators plus behavioral tests on planted fixtures (span merging, BM25
ordering, affinity direction)."""

import pytest

from conftest import assert_oracle_match

NAMES = [
    "q_duplicate_spans",
    "q_bm25_topk",
    "q_domain_affinity",
    "q_strip_duplicate_spans",
    "q_token_chunks",
    "q_train_val_split",
    "q_embedding_dup_clusters",
]


@pytest.mark.parametrize("name", NAMES)
def test_oracle_parity(spark, duck, name):
    assert_oracle_match(spark, duck, name)


def test_duplicate_spans_merges_adjacent_windows(spark):
    """Two docs share a 6-token run; with w=4 the run yields 3 consecutive
    duplicated windows in each doc that must merge into ONE span covering
    exactly the shared tokens."""
    from scalable_data_integration_with_llms_spark.operators.dedup import (
        duplicate_spans,
    )

    shared = "a b c d e f"
    docs = spark.createDataFrame(
        [
            (1, f"x1 y1 {shared} z1 w1"),
            (2, f"p2 {shared} q2 r2 s2"),
            (3, "totally different tokens here only once ever seen now"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc"]: r
        for r in duplicate_spans(docs, w=4).collect()
    }
    assert set(rows) == {1, 2}
    # doc 1: shared run occupies positions 3..8 -> windows at 3,4,5
    assert (rows[1]["span_start"], rows[1]["span_end"], rows[1]["n_windows"]) == (3, 8, 3)
    # doc 2: shared run occupies positions 2..7 -> windows at 2,3,4
    assert (rows[2]["span_start"], rows[2]["span_end"], rows[2]["n_windows"]) == (2, 7, 3)


def test_duplicate_spans_ignores_within_doc_repeats(spark):
    """A window repeated only WITHIN one document is not a cross-document
    duplicate (distinct (hash, doc) before the df count)."""
    from scalable_data_integration_with_llms_spark.operators.dedup import (
        duplicate_spans,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d a b c d"), (2, "e f g h i j k l")],
        "doc_id long, text string",
    )
    assert duplicate_spans(docs, w=4).count() == 0


def test_bm25_more_matching_terms_scores_higher(spark, duck):
    """Among the top-k, a doc matching all three query terms with higher tf
    outranks one matching a single term — check the Spark result ordering is
    by score_q desc (the oracle already pins exact values)."""
    from scalable_data_integration_with_llms_spark.queries.retrieval_q import (
        q_bm25_topk,
    )
    import os

    sf_dir = os.environ.get("SDI_TEST_SF_DIR", "/root/testdata/sf0.001")
    rows = q_bm25_topk(spark, sf_dir).collect()
    assert len(rows) > 0
    scores = [r["score_q"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(r["n_terms"] >= 1 for r in rows)


def test_domain_affinity_selects_target_leaning_docs(spark):
    """Selected docs must have affinity >= the corpus median by
    construction (they are the top-k of the affinity ordering), and the
    target-language share among selected docs should exceed the corpus
    share (the weights are built to favor target-domain n-grams)."""
    import os

    import duckdb

    from scalable_data_integration_with_llms_spark.queries.retrieval_q import (
        q_domain_affinity,
        _AFF_TARGET_LANG,
    )

    sf_dir = os.environ.get("SDI_TEST_SF_DIR", "/root/testdata/sf0.001")
    sel = q_domain_affinity(spark, sf_dir).collect()
    assert 0 < len(sel) <= 50
    con = duckdb.connect()
    langs = dict(
        con.sql(
            f"SELECT doc_id, lang FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    )
    corpus_share = sum(1 for v in langs.values() if v == _AFF_TARGET_LANG) / len(langs)
    sel_share = sum(1 for r in sel if langs[r["doc_id"]] == _AFF_TARGET_LANG) / len(sel)
    assert sel_share > corpus_share


def test_strip_conserves_tokens_and_owner_keeps_text(spark):
    """Strip accounting: removed + kept = total per doc, and the owner
    (min-doc_id) side of each duplicated window is never stripped — on the
    real corpus every doc_id reported must be strictly greater than some
    doc sharing its windows, so the minimum doc_id of the corpus can never
    appear in the output."""
    import os

    from scalable_data_integration_with_llms_spark.queries.retrieval_q import (
        q_strip_duplicate_spans,
    )

    sf_dir = os.environ.get("SDI_TEST_SF_DIR", "/root/testdata/sf0.001")
    rows = q_strip_duplicate_spans(spark, sf_dir).collect()
    assert rows, "corpus has planted duplicates; strip must fire"
    for r in rows:
        assert 0 < r["n_removed"] <= r["n_tokens"]
    assert min(r["doc_id"] for r in rows) > 0  # doc 0 owns its windows


def test_token_chunks_cover_each_doc_exactly(spark):
    """Chunk accounting: full chunks are CHUNK_SIZE tokens, at most one
    tail per doc in [MIN_TAIL, CHUNK_SIZE), chunk_idx contiguous from 0."""
    import os
    from collections import defaultdict

    from scalable_data_integration_with_llms_spark.queries.retrieval_q import (
        q_token_chunks,
        _CHUNK_SIZE,
        _CHUNK_MIN_TAIL,
    )

    sf_dir = os.environ.get("SDI_TEST_SF_DIR", "/root/testdata/sf0.001")
    rows = q_token_chunks(spark, sf_dir).collect()
    by_doc = defaultdict(list)
    for r in rows:
        by_doc[r["doc_id"]].append(r)
    assert by_doc
    for doc, rs in by_doc.items():
        rs.sort(key=lambda r: r["chunk_idx"])
        idxs = [r["chunk_idx"] for r in rs]
        assert idxs == list(range(idxs[0], idxs[0] + len(idxs)))
        tails = [r for r in rs if r["n_tokens"] != _CHUNK_SIZE]
        assert len(tails) <= 1
        for t in tails:
            assert _CHUNK_MIN_TAIL <= t["n_tokens"] < _CHUNK_SIZE
            assert t["chunk_idx"] == idxs[-1]


# -- property test: duplicate_spans vs brute force ----------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _brute_spans(docs, w):
    from collections import defaultdict

    wins = defaultdict(list)  # doc -> positions
    seen = defaultdict(set)  # window -> docs
    toks = {i: t.split(" ") for i, t in docs}
    for i, ts in toks.items():
        for p in range(len(ts) - w + 1):
            seen[" ".join(ts[p : p + w])].add(i)
    dup = {win for win, ds in seen.items() if len(ds) >= 2}
    out = set()
    for i, ts in toks.items():
        hits = [
            p + 1
            for p in range(len(ts) - w + 1)
            if " ".join(ts[p : p + w]) in dup
        ]
        run = []
        for p in hits:
            if run and p == run[-1] + 1:
                run.append(p)
            else:
                if run:
                    out.add((i, run[0], run[-1] + w - 1, len(run)))
                run = [p]
        if run:
            out.add((i, run[0], run[-1] + w - 1, len(run)))
    return out


@st.composite
def _corpora(draw):
    n_docs = draw(st.integers(2, 6))
    docs = []
    for i in range(n_docs):
        toks = draw(
            st.lists(st.sampled_from("a b c d".split()), min_size=0, max_size=14)
        )
        docs.append((i, " ".join(toks)))
    return docs


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=_corpora())
def test_duplicate_spans_matches_brute_force(spark, docs):
    from scalable_data_integration_with_llms_spark.operators.dedup import (
        duplicate_spans,
    )

    w = 3
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc"], r["span_start"], r["span_end"], r["n_windows"])
        for r in duplicate_spans(df, w=w).collect()
    }
    assert got == _brute_spans(docs, w)


def test_rrf_fusion_oracle(spark, duck):
    assert_oracle_match(spark, duck, "q_rrf_fusion")


def test_rrf_fuse_operator_semantics(spark):
    """rrf_fuse over three rankings: ids missing from a source contribute
    nothing for it (null rank, no 1/(k+r) term), present ranks contribute
    exactly 1/(k+r), and the fold keeps every id seen anywhere."""
    from scalable_data_integration_with_llms_spark.operators.similarity import rrf_fuse

    mk = lambda rows: spark.createDataFrame(rows, "id long, rank int")  # noqa: E731
    a = mk([(1, 1), (2, 2)])
    b = mk([(2, 1), (3, 2)])
    c = mk([(3, 1)])
    rows = {r["id"]: r for r in rrf_fuse([a, b, c], "id", k=10).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["rank_0"] == 1 and rows[1]["rank_1"] is None
    assert rows[1]["rrf_score"] == 1.0 / 11
    assert rows[2]["rrf_score"] == 1.0 / 12 + 1.0 / 11
    assert rows[3]["rrf_score"] == 1.0 / 12 + 1.0 / 11
    # symmetric-rank ties are a property, not an accident: 2 and 3 fuse equal
    assert rows[2]["rrf_score"] == rows[3]["rrf_score"]
