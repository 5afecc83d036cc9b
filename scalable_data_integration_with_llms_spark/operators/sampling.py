"""Seeded sampling operators (SURVEY §7 step 3; reference samplers at
``Stable Schema Matching/prompt/InstanceDataHandler.py:428-524`` and
``Schema Mapping/DatabaseUtils/PromptBuilder.py:38-107``).

The reference offers ``random``, ``random_unique``, ``most_frequent`` and a
``weighted_sampler``; all seeded (§1.4).  The Spark re-expression replaces
positional RNG streams with md5-derived per-row randomness
(functions/determinism.py): stable under partitioning, retries, and
recomputation — the "sample-stability discipline" of SURVEY §4 without
needing cache-before-reuse.

Scale note: every sampler here is a single shuffle (window or groupBy) with
map-side pre-aggregation where possible; none collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.determinism import det_rand, det_shuffle_key


def random_sample(df: DataFrame, n: int, seed: int, key_cols: list[str],
                  partition_by: list[str] | None = None) -> DataFrame:
    """Seeded n-row sample (``random`` / ``random_unique`` after upstream
    distinct): rank rows by md5(seed, key) and keep the first n, optionally
    per group.  Deterministic equivalent of ``rng.choice(..., replace=False)``.
    """
    order = det_shuffle_key(seed, *key_cols)
    win = W.partitionBy(*(partition_by or [])).orderBy(order)
    return (
        df.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") <= n)
        .withColumnRenamed("__rn", "sample_rank")
    )


def most_frequent(df: DataFrame, value_col: str, n: int,
                  partition_by: list[str] | None = None) -> DataFrame:
    """Top-n most frequent values (``most_frequent`` sampler /
    ``value_counts().index[:n]``, InstanceDataHandler.py:503-506; A1+A2).
    Ties broken by value ascending for determinism.  groupBy gets map-side
    combine; the window runs over the (small) distinct-value set."""
    counts = df.groupBy(*(partition_by or []), value_col).agg(F.count(F.lit(1)).alias("cnt"))
    win = W.partitionBy(*(partition_by or [])).orderBy(F.desc("cnt"), F.asc(value_col))
    return counts.withColumn("freq_rank", F.row_number().over(win)).filter(F.col("freq_rank") <= n)


def weighted_sample(df: DataFrame, n: int, seed: int, weight: Column,
                    key_cols: list[str], partition_by: list[str] | None = None) -> DataFrame:
    """Seeded weighted sampling without replacement via the A-ES reservoir
    key ``u^(1/w)`` (Efraimidis–Spirakis), max-n per group — the
    distributed equivalent of the reference's ``weighted_sampler``
    (``PromptBuilder.py:45-78``).  One window shuffle, no driver loop."""
    u = det_rand(seed, *key_cols)
    es_key = F.pow(u, F.lit(1.0) / weight)
    win = W.partitionBy(*(partition_by or [])).orderBy(F.desc(es_key), *[F.asc(c) for c in key_cols])
    return (
        df.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") <= n)
        .withColumnRenamed("__rn", "sample_rank")
    )


def unique_value_sample(df: DataFrame, value_col: str, n: int, seed: int,
                        partition_by: list[str] | None = None) -> DataFrame:
    """Column-wise `random_unique` sampler (``InstanceDataHandler.py:455-470``,
    ``PromptBuilder`` ColumnWise): distinct values of one column, seeded
    n-sample.  The distinct runs before the sample, so heavy duplication
    collapses ahead of ranking."""
    distinct = df.select(*(partition_by or []), value_col).distinct()
    return random_sample(distinct, n, seed, [value_col], partition_by=partition_by)


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    fractions: dict[str, float],
    seed: int,
    key_cols: list[str],
) -> DataFrame:
    """Deterministic ``sampleBy``: keep each row iff det_rand(seed, key) is
    below its stratum's fraction (strata absent from ``fractions`` drop).

    Unlike ``DataFrame.sampleBy`` this is a pure row-local predicate —
    recompute-stable under retries/AQE, pushdown-friendly (no RNG state), and
    reproducible in any engine; at scale it is a free filter on the scan."""
    u = det_rand(seed, *key_cols)
    frac = None
    for value, f in sorted(fractions.items()):
        cond = F.col(stratum_col) == value
        frac = F.when(cond, F.lit(f)) if frac is None else frac.when(cond, F.lit(f))
    return df.filter(u < frac.otherwise(F.lit(0.0)))
