"""Round-3 additions: cohort retention, ordered funnel, CDC compaction,
perplexity bucketing (integer surprisal), SemDeDup, IVF-PQ ADC search."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from conftest import assert_oracle_match

NEW_QUERIES = [
    "q_cohort_retention",
    "q_event_funnel",
    "q_cdc_apply",
    "q_perplexity_buckets",
    "q_semdedup",
    "q_ivfpq_adc",
    "q_kn_bigram_lm",
    "q_session_paths",
    "q_kcenter_coreset",
    "q_corr_qty_price",
    "q_bloom_join_pushdown",
    "q_stream_cdc_apply",
    "q_hard_negatives",
]


@pytest.mark.parametrize("name", NEW_QUERIES)
def test_round3_oracle_match(spark, duck, name):
    assert_oracle_match(spark, duck, name)


EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def _events_dir(spark, tmp_path, rows):
    df = spark.createDataFrame(rows, EVENTS_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_funnel_requires_strict_stage_order(spark, tmp_path):
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # user 1: click BEFORE view, purchase after click -> only the view
        # counts (no qualifying click, hence no qualifying purchase)
        (1, t(1), 1, "click", 1.0, ""),
        (2, t(2), 1, "view", 1.0, ""),
        (3, t(3), 1, "purchase", 1.0, ""),
        # user 2: proper view -> click -> purchase
        (4, t(1), 2, "view", 1.0, ""),
        (5, t(2), 2, "click", 1.0, ""),
        (6, t(3), 2, "purchase", 1.0, ""),
        # user 3: view and click at the SAME timestamp -> strict < fails
        (7, t(5), 3, "view", 1.0, ""),
        (8, t(5), 3, "click", 1.0, ""),
    ]
    out = QUERIES["q_event_funnel"](spark, _events_dir(spark, tmp_path, rows)).collect()[0]
    assert out.n_view == 3
    assert out.n_click == 1
    assert out.n_purchase == 1


def test_cdc_tombstone_suppression(spark, tmp_path):
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        (1, t(1), 1, "signup", 1.0, ""),
        (2, t(2), 1, "error", 0.0, ""),     # tombstone last -> user 1 gone
        (3, t(1), 2, "signup", 1.0, ""),
        (4, t(2), 2, "error", 0.0, ""),
        (5, t(3), 2, "click", 7.5, ""),     # re-inserted after tombstone
    ]
    out = {r.user_id: r for r in QUERIES["q_cdc_apply"](spark, _events_dir(spark, tmp_path, rows)).collect()}
    assert 1 not in out
    assert out[2].last_op == "click" and out[2].n_changes == 3
    assert out[2].last_value_milli == 7500


def test_semdedup_counts_partition_cleanly(spark):
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    rows = QUERIES["q_semdedup"](spark, "/root/testdata/sf0.001").collect()
    assert rows, "semdedup returned no clusters"
    for r in rows:
        assert r.n_pruned + r.n_kept == r.n_vectors
    total = sum(r.n_vectors for r in rows)
    n_emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").count()
    assert total == n_emb  # every vector assigned to exactly one cluster


def test_surprisal_bits_identity():
    """length(bin(N DIV c)) - 1 == floor(log2(N / c)) for 1 <= c <= N —
    the integer identity q_perplexity_buckets rests on."""
    import math

    for n in [1, 2, 3, 7, 64, 1000, 10**6, 10**12]:
        for c in [1, 2, 3, 5, 63, 64, 65, 999, n]:
            if c > n:
                continue
            expect = math.floor(math.log2(n / c))
            got = len(bin(n // c)) - 2 - 1  # strip '0b', then the -1
            assert got == expect, (n, c, got, expect)


def test_ivfpq_neighbor_counts(spark):
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cluster_sizes = {r.label: r.c for r in emb.groupBy("label").agg(F.count(F.lit(1)).alias("c")).collect()}
    q_labels = {r.vec_id: r.label for r in emb.filter(F.col("vec_id") % 50 == 0).collect()}
    got = QUERIES["q_ivfpq_adc"](spark, "/root/testdata/sf0.001").collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r.query_id, []).append(r.adc_rank)
    for qid, ranks in per_q.items():
        expect = min(5, cluster_sizes[q_labels[qid]] - 1)
        assert sorted(ranks) == list(range(1, expect + 1))
    assert set(per_q) == set(q_labels)


def test_kn_probabilities_bounded(spark):
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    rows = QUERIES["q_kn_bigram_lm"](spark, "/root/testdata/sf0.001").collect()
    assert rows, "KN LM returned no bigrams"
    assert len({r.w1 for r in rows}) <= 10  # top-10 contexts only
    for r in rows:
        assert 0 < r.kn_prob_milli <= 1_000_000
        assert r.c12 <= r.c1


def test_session_paths_ranked(spark):
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    rows = QUERIES["q_session_paths"](spark, "/root/testdata/sf0.001").collect()
    assert 0 < len(rows) <= 10
    ranks = [r.path_rank for r in rows]
    assert sorted(ranks) == list(range(1, len(rows) + 1))
    by_rank = sorted(rows, key=lambda r: r.path_rank)
    cnts = [r.cnt for r in by_rank]
    assert cnts == sorted(cnts, reverse=True)
    for r in rows:
        assert 1 <= len(r.path.split(">")) <= 5


def test_kcenter_distances_non_increasing(spark):
    """Gonzalez greedy: the max-min distance of successive picks never
    increases."""
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    rows = sorted(
        QUERIES["q_kcenter_coreset"](spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r.sel_rank,
    )
    assert [r.sel_rank for r in rows] == list(range(1, len(rows) + 1))
    dists = [r.mind2_q for r in rows[1:]]
    assert all(a >= b for a, b in zip(dists, dists[1:]))
    assert len({r.vec_id for r in rows}) == len(rows)


def test_corr_bounds(spark):
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    for r in QUERIES["q_corr_qty_price"](spark, "/root/testdata/sf0.001").collect():
        assert -1.0 <= r.pearson_r <= 1.0
        assert r.n > 1


def test_corr_moment_sums_survive_int64_overflow(spark, tmp_path):
    """Regression pin for the sf1-sweep find (r10): Σy² on cents passes
    int64 at ~2M real rows per group, so the moment SUMs must accumulate
    decimal(38,0).  y = 1e9¢·qty for qty 1,2,3 keeps every PER-ROW product
    inside int64 (max y² = 9e18 < 2^63-1, like real data) while the sum
    Σy² = 1.4e19 crosses it — an int64 wraparound there turns var_y
    negative and pearson_r into NaN/null; the decimal accumulator must
    instead close the perfect line to r ≈ 1."""
    import math

    rows = [(i + 1, 1e7 * (i + 1)) for i in range(3)]  # price in $ → y = 1e9¢·qty
    df = spark.createDataFrame(rows, "l_quantity bigint, l_extendedprice double")
    df = df.withColumn("l_returnflag", F.lit("A"))
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    [r] = QUERIES["q_corr_qty_price"](spark, str(tmp_path)).collect()
    assert r.n == 3
    assert r.pearson_r is not None and not math.isnan(r.pearson_r)
    assert abs(r.pearson_r - 1.0) < 1e-9


def _pushdown_bloom():
    """q_bloom_join_pushdown's build and probe: the collected word list and
    its array-literal predicate, with the query's xxhash64 positions."""
    from scalable_data_integration_with_llms_spark.operators.sketch import (
        bloom_bitmap,
        bloom_bits_predicate,
    )
    from scalable_data_integration_with_llms_spark.queries.analytics import _BLOOM_JOIN

    def build(df, key):
        return bloom_bitmap(df, key, _BLOOM_JOIN).first()["words"]

    def probe(words, key):
        return bloom_bits_predicate(key, F.lit(words), _BLOOM_JOIN)

    return build, probe


def test_bloom_runtime_filter_prunes_and_preserves(spark, duck):
    """The Bloom predicate must (a) never drop a matching row, (b) prune a
    large share of the fact scan, and (c) sit in the scan stage below the
    join exchange."""
    build_bloom_words, bloom_probe_predicate = _pushdown_bloom()
    from scalable_data_integration_with_llms_spark.queries import QUERIES
    from scalable_data_integration_with_llms_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    o = load_table(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    li = load_table(spark, sf, "lineitem")
    words = build_bloom_words(o, "o_orderkey")
    pruned = li.filter(bloom_probe_predicate(words, "l_orderkey"))
    n_li, n_pruned = li.count(), pruned.count()
    n_match = li.join(o, li.l_orderkey == o.o_orderkey, "left_semi").count()
    assert n_match <= n_pruned < n_li * 0.6  # superset of matches, real pruning

    plan = (
        QUERIES["q_bloom_join_pushdown"](spark, sf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the element_at membership test must appear (constant-folded word
    # array probed in the scan stage)
    assert "element_at" in plan


def test_bloom_filter_type_mismatch_keeps_matches(spark):
    """Build on int keys, probe with bigint keys (a pairing the equi-join
    itself tolerates via implicit widening): the filter must still pass
    every matching row.  Without canonicalizing the hash input, xxhash64
    hashes int and bigint differently and silently drops matches (r3/r4
    ADVICE hazard)."""
    build_bloom_words, bloom_probe_predicate = _pushdown_bloom()

    build = spark.range(0, 500).select(F.col("id").cast("int").alias("k"))
    probe = spark.range(0, 2000).select(F.col("id").alias("k"))  # bigint
    words = build_bloom_words(build, "k")
    kept = {r.k for r in probe.filter(bloom_probe_predicate(words, "k")).collect()}
    assert set(range(500)) <= kept  # no matching row dropped

    # string build keys vs string probe keys still behave
    sbuild = build.select(F.col("k").cast("string").alias("k"))
    swords = build_bloom_words(sbuild, "k")
    skept = {
        r.k
        for r in probe.select(F.col("k").cast("string").alias("k"))
        .filter(bloom_probe_predicate(swords, "k"))
        .collect()
    }
    assert {str(i) for i in range(500)} <= skept
    # and the integral family agrees with the string family (canonical cast)
    assert set(words) == set(swords)


def test_stream_cdc_matches_batch(spark):
    """The foreachBatch upsert's final snapshot must equal the batch
    compaction — micro-batch boundaries cannot change an associative
    merge."""
    import glob
    import os
    import tempfile

    from scalable_data_integration_with_llms_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    ckpts = os.path.join(tempfile.gettempdir(), "sdi_ckpt_sdi_stream_cdc_*")
    before = set(glob.glob(ckpts))
    batch = sorted(map(str, QUERIES["q_cdc_apply"](spark, sf).collect()))
    stream = sorted(map(str, QUERIES["q_stream_cdc_apply"](spark, sf).collect()))
    assert batch == stream
    # the drain's checkpoint directory is removed, not leaked per call
    assert set(glob.glob(ckpts)) == before


def test_round3_late_queries_oracle(spark, duck):
    for name in ("q_session_overlap_join", "q_user_value_trend",
                 "q_notin_null_semantics", "q_bibtex_import",
                 "q_stream_topk_types", "q_value_outliers",
                 "q_event_transitions", "q_rfm_segments",
                 "q_funnel_by_cohort", "q_seasonality_profile",
                 "q_ngram_novelty", "q_embedding_drift", "q_pmi_collocations",
                 "q_brand_hhi"):
        assert_oracle_match(spark, duck, name)


def test_notin_trap_demonstrated(spark):
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    row = QUERIES["q_notin_null_semantics"](spark, "/root/testdata/sf0.001").collect()[0]
    # a NULL in the NOT IN list makes the predicate UNKNOWN everywhere
    assert row.notin_count == 0
    assert row.notexists_count > 0  # with nulls filtered, real non-buyers exist


def test_er_entities_oracle_and_structure(spark, duck):
    assert_oracle_match(spark, duck, "q_er_entities")
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    rows = QUERIES["q_er_entities"](spark, "/root/testdata/sf0.001").collect()
    # entities partition the distinct-name dimension: member counts sum to it
    n_names = (
        spark.read.parquet("/root/testdata/sf0.001/part.parquet")
        .select("p_name")
        .distinct()
        .count()
    )
    assert sum(r.n_names for r in rows) == n_names
    assert any(r.n_names > 1 for r in rows)  # real merges happen
