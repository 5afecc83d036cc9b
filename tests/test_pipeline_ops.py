"""Oracle parity for the training-data pipeline surfaces (dedup, text,
similarity) + behavioral unit tests on planted duplicates."""

import pytest

from conftest import assert_oracle_match

NAMES = [
    "q_dedup_exact",
    "q_dedup_ngram_jaccard",
    "q_cross_source_dup_matrix",
    "q_minhash_signatures",
    "q_simhash",
    "q_text_quality",
    "q_langid",
    "q_token_stats",
    "q_bpe_token_stats",
    "q_doc_fingerprint",
    "q_cosine_topk",
    "q_ann_ivf",
    "q_lsh_hyperplane_buckets",
    "q_ann_lsh",
    "q_repetition_ratio",
    "q_pii_scrub",
    "q_contamination",
    "q_pack_sequences",
    "q_label_centroids",
    "q_knn_classify",
    "q_pivot_status_priority",
    "q_dedup_clusters",
    "q_media_metadata",
    "q_vocab",
    "q_tfidf_top_terms",
    "q_price_histogram",
    "q_dedup_containment",
    "q_dedup_keepers",
    "q_ann_recall",
    "q_ann_recall_hashed",
    "q_minhash_est_jaccard",
    "q_ivf_recall",
    "q_udtf_tokens",
    "q_incremental_dedup",
    "q_source_mixture",
    "q_doc_commonness",
    "q_shard_assignment",
    "q_mixture_schedule",
    "q_quality_threshold_sweep",
    "q_packing_efficiency",
]


@pytest.mark.parametrize("name", NAMES)
def test_oracle_parity(spark, duck, name):
    assert_oracle_match(spark, duck, name)


@pytest.fixture()
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    other = "completely different content about spark query engines and parquet files"
    return spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)], "doc_id long, text string"
    )


def test_exact_dedup_groups(spark, dup_docs):
    from scalable_data_integration_with_llms_spark.operators.dedup import exact_dedup_groups

    groups = {r.canonical_id: r.n_copies for r in exact_dedup_groups(dup_docs).collect()}
    assert groups[1] == 2  # docs 1,2 identical
    assert groups[3] == 1 and groups[4] == 1


def test_jaccard_finds_near_dups(spark, dup_docs):
    from scalable_data_integration_with_llms_spark.operators.dedup import jaccard_pairs, word_shingles

    sh = word_shingles(dup_docs)
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in jaccard_pairs(sh).collect()}
    assert pairs[(1, 2)] == 1.0
    assert 0.5 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_lsh_candidates_cover_exact_dups(spark, dup_docs):
    from scalable_data_integration_with_llms_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )

    sh = word_shingles(dup_docs)
    sigs = minhash_signatures(sh)
    cands = {(r.doc_a, r.doc_b): r.n_shared_bands for r in lsh_candidate_pairs(sigs).collect()}
    assert cands[(1, 2)] == 4  # identical docs share every band
    assert not any(4 in p for p in cands)


def test_lsh_hot_bucket_streams_as_rows(spark):
    """Degenerate hot-bucket skew (VERDICT r14 item 2): 10^4 docs sharing ONE
    band signature expand to ~5*10^7 pairs.  The r14 single-stage form built
    that entire pair set as one in-row array (flatten of nested transforms)
    before the explode — multi-GB in a single value, straight at the 2 GB
    single-value/array limits.  The two-stage posexplode + slice-explode form
    keeps per-row state at O(bucket) and streams pairs as rows; this test
    pins both the plan shape and that the expansion completes under normal
    task memory."""
    from pyspark.sql import functions as F

    from scalable_data_integration_with_llms_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    n = 10_000
    sigs = spark.range(n).select(
        F.col("id").alias("doc"),
        F.lit(0).alias("band"),
        F.lit("hot").alias("signature"),
    )
    out = lsh_candidate_pairs(sigs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "posexplode" in plan, plan
    assert "flatten" not in plan, plan
    # doc 0 pairs with every other doc exactly once (one shared band); the
    # filter on the grouping key pushes below the aggregate, so the full
    # 5*10^7-row pair stream is generated and filtered without building the
    # full 5*10^7-group aggregation state
    row = out.filter(F.col("doc_a") == 0).agg(
        F.count(F.lit(1)), F.sum("n_shared_bands")
    ).collect()[0]
    assert row[0] == n - 1 and row[1] == n - 1


def test_simhash_close_for_near_dups(spark, dup_docs):
    from scalable_data_integration_with_llms_spark.operators.dedup import simhash

    fps = {r.doc: r.simhash for r in simhash(dup_docs, bits=16).collect()}
    assert fps[1] == fps[2]
    hamming_13 = bin(fps[1] ^ fps[3]).count("1")
    hamming_14 = bin(fps[1] ^ fps[4]).count("1")
    assert hamming_13 < hamming_14


ROUND2 = ["q_embedding_near_dup", "q_lsh_verified_pairs"]


@pytest.mark.parametrize("name", ROUND2)
def test_oracle_parity_round2(spark, duck, name):
    assert_oracle_match(spark, duck, name)


def test_bpe_ish_tokens_shapes(spark):
    from scalable_data_integration_with_llms_spark.functions.text import bpe_ish_tokens

    df = spark.createDataFrame([("hello world, it's 42 degrees!",)], "text string")
    toks = df.select(bpe_ish_tokens("text").alias("t")).first().t
    assert toks == ["hello", " world", ",", " it", "'s", " 42", " degrees", "!"]


def test_pack_sequences_greedy_semantics(spark):
    """Greedy packing: budget boundary starts a new sequence; an oversized
    doc occupies its own; packing is per-source independent."""
    from scalable_data_integration_with_llms_spark.queries.text_q import _PACK_BUDGET

    assert _PACK_BUDGET == 256
    import pandas as pd
    from pyspark.sql import functions as F

    from scalable_data_integration_with_llms_spark.functions.text import token_count

    docs = spark.createDataFrame(
        [
            ("a", 1, ("w " * 99).strip()),   # 99 tokens
            ("a", 2, ("w " * 99).strip()),   # 99+99 = 198 fits
            ("a", 3, ("w " * 99).strip()),   # 198+99 > 256 -> doc 3 starts seq 1
            ("a", 4, ("w " * 299).strip()),  # 299 tokens alone > 256 -> own seq 2
            ("a", 5, "w"),                   # follows oversized doc -> seq 3
            ("b", 6, "w"),                   # separate source restarts at seq 0
        ],
        "source string, doc_id long, text string",
    )

    with_tok = docs.select("source", "doc_id", token_count("text").cast("bigint").alias("tok"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        seqs, seq, acc = [], 0, 0
        for tok in pdf["tok"]:
            if acc > 0 and acc + tok > 256:
                seq += 1
                acc = tok
            else:
                acc += tok
            seqs.append(seq)
        pdf["seq_id"] = seqs
        return pdf

    out = {
        r.doc_id: r.seq_id
        for r in with_tok.groupBy("source")
        .applyInPandas(pack, "source string, doc_id bigint, tok bigint, seq_id int")
        .collect()
    }
    assert out == {1: 0, 2: 0, 3: 1, 4: 2, 5: 3, 6: 0}


def test_connected_components_chain_and_triangle(spark):
    """CC over a 4-chain, a triangle, and an isolated pair: labels converge
    to the component minimum; diameter > 1 exercises multiple rounds."""
    from scalable_data_integration_with_llms_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(4, 3), (3, 2), (2, 1),      # chain 1-2-3-4
         (10, 11), (11, 12), (10, 12),  # triangle
         (20, 21)],                   # pair
        "doc_a long, doc_b long",
    )
    out = {r.doc: r.cluster_id for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_mixture_schedule_invariants(spark):
    """The schedule satisfies the mixture exactly: scheduled_i/weight_i is
    (near-)constant, no source over-consumes its availability, and exactly
    the binding source(s) are consumed whole up to rounding."""
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    rows = QUERIES["q_mixture_schedule"](spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 20
    assert all(r.scheduled_tokens <= r.available_tokens for r in rows)
    assert any(r.is_binding == 1 for r in rows)
    # mixture exactness: scheduled_i = floor(budget * w_i / 60) for one
    # shared budget -> scheduled_i * 60 / w_i spans less than 60/w_i
    per_unit = [r.scheduled_tokens * 60 // r.weight_raw for r in rows]
    assert max(per_unit) - min(per_unit) <= 60
    binding = [r for r in rows if r.is_binding == 1]
    for r in binding:
        assert r.available_tokens - r.scheduled_tokens < 60 // r.weight_raw + 1


def test_concat_chunk_bins_invariants(spark):
    """Zero-padding packing: every bin holds exactly the bin size of tokens
    except each source's last; bin indices are contiguous from 0; docs cross
    bin boundaries (n_docs > n_starts somewhere — the property that
    distinguishes this regime from whole-doc packing); per-source token
    totals reconcile with the raw corpus."""
    from pyspark.sql import functions as F

    from scalable_data_integration_with_llms_spark.queries import QUERIES
    from scalable_data_integration_with_llms_spark.queries.pipeline_q import _CC_BIN
    from scalable_data_integration_with_llms_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["q_concat_chunk_bins"](spark, sf).collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert by_src
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.bin)
        assert [r.bin for r in rs] == list(range(len(rs)))  # contiguous
        assert all(r.n_tokens == _CC_BIN for r in rs[:-1]), src  # full bins
        assert 1 <= rs[-1].n_tokens <= _CC_BIN
    assert any(r.n_docs > r.n_starts for r in rows)  # boundary crossings

    d = load_table(spark, sf, "documents")
    want = {
        r.source: r.total
        for r in d.groupBy("source")
        .agg(F.sum(F.size(F.split("text", " ", -1))).alias("total"))
        .collect()
    }
    got = {src: sum(r.n_tokens for r in rs) for src, rs in by_src.items()}
    assert got == want
    # every doc starts in exactly one bin
    n_docs = d.count()
    assert sum(r.n_starts for r in rows) == n_docs


def test_concat_chunk_bins_synthetic_shapes(spark):
    """Shapes the parquet testdata never produces: a doc spanning 4+ bins,
    sparse doc_ids crossing prefix-sum bucket boundaries, and 1-token docs
    — compared against a sequential Python twin of the packing."""
    from scalable_data_integration_with_llms_spark.queries.pipeline_q import (
        concat_chunk_bins,
    )

    BIN, BKT = 8, 4  # tiny bins; bucket boundary every 4 doc_ids
    docs = [
        ("a", 0, "w " * 35),   # 36 tokens (trailing split token) -> spans 5 bins
        ("a", 1, "x"),         # 1 token
        ("a", 7, "y " * 4),    # crosses into bucket 1 (doc_id 7 // 4 = 1)
        ("a", 9, "z " * 10),
        ("b", 2, "p " * 6),    # second source interleaved
        ("b", 11, "q " * 2),
    ]
    df = spark.createDataFrame(
        docs, "source string, doc_id bigint, text string"
    )
    got = {
        (r.source, r.bin): (r.n_docs, r.n_starts, r.n_tokens)
        for r in concat_chunk_bins(df, bin_size=BIN, bucket=BKT).collect()
    }

    # sequential twin
    want: dict = {}
    for src in sorted({s for s, _i, _t in docs}):
        off = 0
        for _s, _i, text in sorted(
            (d for d in docs if d[0] == src), key=lambda d: d[1]
        ):
            tok = len(text.split(" "))
            st, en = off, off + tok
            for b in range(st // BIN, (en - 1) // BIN + 1):
                n_docs, n_starts, n_tok = want.get((src, b), (0, 0, 0))
                want[(src, b)] = (
                    n_docs + 1,
                    n_starts + (1 if st // BIN == b else 0),
                    n_tok + min(en, (b + 1) * BIN) - max(st, b * BIN),
                )
            off = en
    assert got == want
    # the long doc really spans >= 5 bins
    assert max(b for s, b in want if s == "a") >= 4
    assert any(n_docs == 1 and n_starts == 0 for n_docs, n_starts, _t in want.values())


def test_mixture_weight_digitless_source_matches_oracle(spark, duck):
    """Under Spark 4 ANSI mode a plain cast of the no-match extract THROWS;
    mixture_weight must try_cast so a digitless source gets weight 1 in
    BOTH engines (round-6 review finding)."""
    from pyspark.sql import functions as F

    from scalable_data_integration_with_llms_spark.queries.pipeline_q import mixture_weight

    df = spark.createDataFrame([("books",), ("src3",), ("web12",), ("",)], "source string")
    got = {
        r.source: r.w
        for r in df.select("source", mixture_weight(F.col("source")).alias("w")).collect()
    }
    want = {
        r[0]: r[1]
        for r in duck.execute(
            "SELECT source, COALESCE(TRY_CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT), 0) % 5 + 1"
            " FROM (VALUES ('books'), ('src3'), ('web12'), ('')) t(source)"
        ).fetchall()
    }
    assert got == want == {"books": 1, "src3": 4, "web12": 3, "": 1}
