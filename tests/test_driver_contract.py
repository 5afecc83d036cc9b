"""Driver-contract probes (the verify recipe's standing checks): entry()
determinism across invocations, clean failure on a bad sf_dir, and the
registry's structural invariants."""

import pytest


def test_entry_twice_identical(spark):
    import __spark_entry__ as E

    a = sorted(map(str, E.entry(spark).collect()))
    b = sorted(map(str, E.entry(spark).collect()))
    assert a == b and len(a) > 0


def test_bad_sf_dir_raises_cleanly(spark):
    from pyspark.errors import AnalysisException

    from scalable_data_integration_with_llms_spark.queries import QUERIES

    with pytest.raises(AnalysisException):
        QUERIES["q1_pricing_summary"](spark, "/root/testdata/does-not-exist").collect()


def test_registry_contract():
    import __spark_entry__ as E

    qs, os_ = E.queries(), E.oracle_sql()
    assert len(qs) >= 218  # round-5 surface; a shrink means a module import broke
    # the round's verification window leads the registry (driver hard-
    # verifies the front)
    from scalable_data_integration_with_llms_spark.queries import _VERIFY_FIRST

    assert list(qs)[: len(_VERIFY_FIRST)] == _VERIFY_FIRST
    # every oracle belongs to a registered query; every query carries one
    # (the surface is 100% value-oracled as of round 3)
    assert set(os_) == set(qs)
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in os_.values())


def test_skew_guard_bounds_shingle_join(spark, tmp_path):
    """Boilerplate skew: one viral text repeated 300x.  Without MAX_DF the
    self-join materializes ~45k co-shingle pairs from the clones alone;
    with the guard the viral shingles are dropped before the join and the
    pair frame stays bounded by the organic near-dups."""
    from pyspark.sql import functions as F

    from scalable_data_integration_with_llms_spark.operators.dedup import (
        jaccard_pairs,
        word_shingles,
    )

    viral = "the same boilerplate footer text repeated on every single page forever"
    rows = [(i, f"unique document body number {i} with distinct words {i * 7}") for i in range(50)]
    rows += [(1000 + i, viral) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = word_shingles(df)
    guarded = jaccard_pairs(sh).count()
    # the unguarded self-join: every doc pair sharing any shingle
    a = sh.select(F.col("doc").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc").alias("doc_b"), "shingle")
    unguarded = (
        a.join(b, "shingle").filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b").distinct().count()
    )
    assert unguarded >= 300 * 299 / 2  # the clone clique alone
    assert guarded == 0  # viral shingles dropped -> no pair survives
