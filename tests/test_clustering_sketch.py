"""Properties of the round-2 additive operators: Bloom membership (no false
negatives, exact FP accounting), k-means iteration (Lloyd improvement,
partition completeness), int8 quantization (error bound)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import assert_oracle_match

SF_DIR = os.environ.get("SDI_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_bloom_no_false_negatives(spark):
    from scalable_data_integration_with_llms_spark.operators.sketch import (
        BloomShape,
        _cms_col,
        bloom_bitmap,
        bloom_bits_predicate,
    )

    build = spark.createDataFrame([(f"key{i}",) for i in range(50)], "k string")
    probe = spark.createDataFrame(
        [(f"key{i}",) for i in range(0, 100)], "k string"  # first 50 are members
    )
    shape = BloomShape(4096, 3, _cms_col)
    flagged = (
        probe.select(F.col("k").alias("key"))
        .distinct()
        .crossJoin(F.broadcast(bloom_bitmap(build, "k", shape)))
        .select("key", bloom_bits_predicate("key", F.col("words"), shape).alias("in_filter"))
    )
    got = {r["key"]: r["in_filter"] for r in flagged.collect()}
    assert all(got[f"key{i}"] for i in range(50))  # Bloom guarantee
    assert len(got) == 100



def test_bloom_rejects_partial_word_sizes(spark):
    """m must be a positive multiple of 64 (the bitmap holds m/64 whole
    words) no larger than BLOOM_M_MAX (the pushdown ships m/64 words as a
    plan literal), and n_hashes >= 1 — checked when the shape is built,
    before any job runs, for both the md5 and the xxhash64 positions."""
    from scalable_data_integration_with_llms_spark.operators.sketch import (
        BLOOM_M_MAX,
        BloomShape,
        _cms_col,
        bloom_bitmap,
    )
    from scalable_data_integration_with_llms_spark.queries.analytics import _xxhash_position

    build = spark.createDataFrame([("a",)], "k string")
    group = "bloom-contract"
    spark.sparkContext.setJobGroup(group, group)
    try:
        for position in (_cms_col, _xxhash_position):
            for m, n_hashes in (
                (100, 3), (0, 3), (32, 3), (4096, 0), (BLOOM_M_MAX + 64, 3), (BLOOM_M_MAX * 2, 3)
            ):
                with pytest.raises(ValueError):
                    bloom_bitmap(build, "k", BloomShape(m, n_hashes, position)).first()
            BloomShape(BLOOM_M_MAX, 3, position)  # the ceiling itself is a valid shape
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert spark.sparkContext.statusTracker().getJobIdsForGroup(group) == []

def test_bloom_contamination_accounting(spark):
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    rows = QUERIES["q_bloom_contamination"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # every true hit passes the filter; FP count is the exact difference
        assert r["n_bloom"] >= r["n_true"]
        assert r["n_false_pos"] == r["n_bloom"] - r["n_true"]
        assert r["n_shingles"] >= r["n_bloom"]


def test_kmeans_partition_complete_and_improving(spark):
    from scalable_data_integration_with_llms_spark.operators.clustering import (
        kmeans_assign,
        label_centroid_arrays,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    total = e.count()
    cents = label_centroid_arrays(e)
    assigned = kmeans_assign(e, cents)
    assert assigned.count() == total  # every vector lands in exactly one cluster
    # Lloyd property: assigning to the nearest centroid can't increase the
    # objective vs staying with the seeding label's centroid
    seeded = (
        e.select("vec_id", "label")
        .join(assigned.select("vec_id", "cluster", "d2"), "vec_id")
    )
    stay = cents.withColumnRenamed("c_label", "label")
    from scalable_data_integration_with_llms_spark.operators.similarity import dot

    ve = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    with_stay = (
        e.select("vec_id", "label", ve.alias("ve"))
        .join(stay, "label")
        .select(
            "vec_id",
            (
                dot(F.col("ve"), F.col("ve"))
                - 2 * dot(F.col("ve"), F.col("cvec"))
                + dot(F.col("cvec"), F.col("cvec"))
            ).alias("d2_stay"),
        )
    )
    cmp = assigned.select("vec_id", "d2").join(with_stay, "vec_id")
    worse = cmp.filter(F.col("d2") > F.col("d2_stay") + 1e-9).count()
    assert worse == 0


def test_quantize_error_bound(spark):
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    rows = QUERIES["q_embedding_quantize"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # |x - dequant| <= scale/254 per component (half a quantization step)
        assert r["max_err_q"] <= r["scale_q"] * 100 / 254 + 1


def test_new_oracles_parity(spark, duck):
    for name in ("q_bloom_contamination", "q_kmeans_iteration", "q_embedding_quantize"):
        assert_oracle_match(spark, duck, name)


def test_simhash_banding_no_false_negatives(spark):
    """Pigeonhole: every pair within Hamming <= 3 of 32-bit fingerprints
    must share one of the 4 bands of 8 bits — banded candidates == brute
    force."""
    from scalable_data_integration_with_llms_spark.operators.dedup import simhash, simhash_near_dup

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
    sigs = simhash(d, bits=32)
    banded = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_dup(sigs).collect()
    }
    fps = {r["doc"]: r["simhash"] for r in sigs.collect()}
    ids = sorted(fps)
    brute = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(fps[a] ^ fps[b]).count("1")
            if h <= 3:
                brute[(a, b)] = h
    assert banded == brute
