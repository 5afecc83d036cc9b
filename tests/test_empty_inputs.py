"""Hardening: key operators on empty inputs (the 0-row edge every
distributed pipeline eventually hits)."""

from pyspark.sql import functions as F


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def test_dedup_on_empty(spark):
    from scalable_data_integration_with_llms_spark.operators.dedup import (
        exact_dedup_groups,
        jaccard_pairs,
        minhash_signatures,
        simhash,
        word_shingles,
    )

    d = _empty_docs(spark)
    assert exact_dedup_groups(d).count() == 0
    sh = word_shingles(d)
    assert jaccard_pairs(sh).count() == 0
    assert minhash_signatures(sh).count() == 0
    assert simhash(d).count() == 0


def test_metrics_on_empty(spark):
    from scalable_data_integration_with_llms_spark.operators.metrics import confusion_counts, prf1_columns

    empty = spark.createDataFrame([], "case_id string, src string, tgt string")
    counts = confusion_counts(empty, empty)
    assert counts.count() == 0
    assert prf1_columns(counts).count() == 0


def test_stable_matching_empty_prefs():
    from scalable_data_integration_with_llms_spark.operators.stable_matching import stable_match_case

    assert stable_match_case([], [], {}, {}, top_k=3) == []
    assert stable_match_case(["a"], ["b"], {"a": []}, {"b": []}, top_k=3) == []


def test_sampling_on_empty(spark):
    from scalable_data_integration_with_llms_spark.operators.sampling import most_frequent, random_sample

    e = spark.createDataFrame([], "k string")
    assert random_sample(e, 5, 1, ["k"]).count() == 0
    assert most_frequent(e, "k", 3).count() == 0


def test_similarity_on_empty(spark):
    from scalable_data_integration_with_llms_spark.operators.similarity import cosine_topk

    e = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert cosine_topk(e, e, 5).count() == 0


def test_connected_components_empty(spark):
    from scalable_data_integration_with_llms_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(pairs).count() == 0


def test_media_stats_empty(spark):
    from scalable_data_integration_with_llms_spark.operators.multimodal import attach_media, media_stats

    d = _empty_docs(spark)
    assert media_stats(attach_media(d, "text", "doc_id")).count() == 0
