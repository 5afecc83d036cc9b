"""Evaluation metrics layer (SURVEY §2.4 A5–A9/A12/A13, §2.3 J4, §2.7 SO6).

Reference formulas mirrored exactly:

* ``eval/eval_utils.py:477-502`` (``compute_prf1e``): guarded P/R/F1,
  TN from unaligned-and-unmapped target columns, accuracy = (tp+tn)/N,
  accuracy2 = (tp+tn)/(tp+tn+fp+fn), effort = (3·fn+fp)/|gold|.
* ``Schema Mapping/AnalysisUtils/AnaylsisUtils.py:9-28`` (``compute_prf1``):
  the all-zero case returns 1.0 for all three.
* ``eval/eval_utils.py:9-21``: MRR with 0 for lists containing no gold pair.
* ``eval/eval_dataset.py:451-471``: multi-run mean ± 95% z-CI.

Exactness discipline: counts are exact bigints; every mean over doubles is
re-expressed as (exact integer sum) / scale / n, and sample variance uses the
sum / sum-of-squares identity over integer-scaled values so both engines run
the same double ops on identical integers (see functions/determinism.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..functions.localframe import local_df

_PAIR = ["case_id", "src", "tgt"]


def confusion_counts(pred: DataFrame, gold: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """J4: per-case TP/FP/FN from predicted vs gold alignment sets
    (``eval/eval_dataset.py:336-341``).  Set semantics: inputs deduped;
    cases present in either side appear.

    Single full-outer join on the pair key + one aggregation — one shuffle
    of the pair sets total, versus the naive semi/anti-join cascade (three
    joins + three aggregations).  ``group_cols`` prepends extra run
    dimensions (e.g. seed) carried by *both* inputs.
    """
    keys = (group_cols or []) + _PAIR
    p = pred.select(*keys).distinct().withColumn("in_p", F.lit(1))
    g = gold.select(*keys).distinct().withColumn("in_g", F.lit(1))
    flags = p.join(g, keys, "full_outer")
    return flags.groupBy(*(group_cols or []) + ["case_id"]).agg(
        F.sum(F.when(F.col("in_p").isNotNull() & F.col("in_g").isNotNull(), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("in_p").isNotNull() & F.col("in_g").isNull(), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("in_p").isNull() & F.col("in_g").isNotNull(), 1).otherwise(0)).alias("fn"),
    )


def _guarded_div(num: Column, den: Column) -> Column:
    return F.when(den == 0, F.lit(0.0)).otherwise(num / den)


def prf1_columns(df: DataFrame, all_zero_is_perfect: bool = False) -> DataFrame:
    """A9: precision/recall/F1(/effort-ready) columns over tp/fp/fn counts.

    ``all_zero_is_perfect`` selects the Schema-Mapping variant
    (``AnaylsisUtils.py:9-13``: tp+fn+fp == 0 ⇒ 1.0/1.0/1.0).
    """
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    precision = _guarded_div(tp, tp + fp)
    recall = _guarded_div(tp, tp + fn)
    f1 = F.when(
        (precision + recall) == 0, F.lit(0.0)
    ).otherwise((2.0 * recall * precision) / (recall + precision))
    if all_zero_is_perfect:
        zero = (tp + fp + fn) == 0
        precision = F.when(zero, F.lit(1.0)).otherwise(precision)
        recall = F.when(zero, F.lit(1.0)).otherwise(recall)
        f1 = F.when(zero, F.lit(1.0)).otherwise(f1)
    return (
        df.withColumn("precision", precision)
        .withColumn("recall", recall)
        .withColumn("f1", f1)
    )


def tn_counts(pred: DataFrame, gold: DataFrame, target_cols: DataFrame) -> DataFrame:
    """SO6: TN = target columns neither gold-aligned nor predicted-mapped
    (``eval_utils.py:466-474``).  ``target_cols``: (case_id, tgt).

    One anti-join against the unioned covered set instead of two chained
    anti-joins."""
    covered = (
        gold.select("case_id", "tgt").union(pred.select("case_id", "tgt")).distinct()
    )
    return (
        target_cols.join(covered, ["case_id", "tgt"], "left_anti")
        .groupBy("case_id")
        .agg(F.count(F.lit(1)).alias("tn"))
    )


def case_prf1(pred: DataFrame, gold: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """J4 + A9: per-case ``tp, fp, fn, precision, recall, f1`` of predicted
    vs gold alignments (``group_cols`` as in :func:`confusion_counts`)."""
    return prf1_columns(confusion_counts(pred, gold, group_cols))


def prf1e(pred: DataFrame, gold: DataFrame, catalog: DataFrame) -> DataFrame:
    """A9 + SO6: the reference's full per-case evaluation row
    (``eval_utils.py:466-502`` compute_prf1e + get_tn) — P/R/F1, TN,
    accuracy = (tp+tn)/N over the N target columns of ``catalog``
    (``case_id, side, col_name``), accuracy2 = (tp+tn)/(tp+tn+fp+fn) and
    effort = (3·fn+fp)/|gold|.  Every division is exact bigint over exact
    bigint, so the doubles are engine-identical."""
    target_cols = catalog.filter(F.col("side") == "target").select(
        "case_id", F.col("col_name").alias("tgt")
    )
    tn = tn_counts(pred, gold, target_cols)
    n_target = target_cols.groupBy("case_id").agg(F.count(F.lit(1)).alias("n_target"))
    n_gold = gold.groupBy("case_id").agg(F.count(F.lit(1)).alias("n_gold"))
    tp, fp, fn, tn_c = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    return (
        case_prf1(pred, gold)
        .join(tn, "case_id", "left")
        .fillna(0, ["tn"])
        .join(n_target, "case_id")
        .join(n_gold, "case_id")
        .select(
            "case_id", "tp", "fp", "fn", "tn", "precision", "recall", "f1",
            ((tp + tn_c) / F.col("n_target")).alias("accuracy"),
            ((tp + tn_c) / (tp + tn_c + fp + fn)).alias("accuracy2"),
            ((3 * fn + fp) / F.col("n_gold")).alias("effort"),
        )
    )


def exact_mean(col: str) -> Column:
    """Cross-case mean of a per-case metric, exact in any engine: each value
    is rounded to integer micro-units and summed as a bigint, so the mean
    is (exact sum) / 1e6 / n whatever the summation order."""
    micro = F.round(F.col(col) * 1_000_000, 0).cast("bigint")
    return (F.sum(micro) / F.lit(1_000_000.0)) / F.count(F.lit(1))


def mrr(preferences: DataFrame, gold: DataFrame) -> DataFrame:
    """A8: per-case mean reciprocal rank over ranked n→1 preference lists
    (``eval_utils.py:9-21``): 1/rank of the first gold pair per query attr,
    0 for lists with none; averaged over query attrs.

    Exactness: rr is kept as round(1e6/rank) (exact bigint), so the per-case
    mean is (exact sum)/1e6/n — identical in any engine.
    """
    hits = (
        preferences.join(
            gold,
            (preferences.case_id == gold.case_id)
            & (preferences.query_attr == gold.tgt)
            & (preferences.candidate_attr == gold.src),
            "left_semi",
        )
        .groupBy("case_id", "query_attr")
        .agg(F.min("rank").alias("first_gold_rank"))
    )
    lists = preferences.select("case_id", "query_attr").distinct()
    rr_milli = F.coalesce(
        F.round(F.lit(1_000_000.0) / F.col("first_gold_rank"), 0).cast("bigint"), F.lit(0)
    )
    return (
        lists.join(hits, ["case_id", "query_attr"], "left")
        .withColumn("rr_milli", rr_milli)
        .groupBy("case_id")
        .agg(((F.sum("rr_milli") / F.lit(1_000_000.0)) / F.count(F.lit(1))).alias("mrr"))
    )


def mean_ci95(
    df: DataFrame,
    metric_milli: Column,
    group_cols: list[str],
    z: float = 1.96,
    scale: float = 1_000_000.0,
) -> DataFrame:
    """A6: mean ± 95% z-CI across runs (``eval_dataset.py:451-471``) from an
    integer-scaled metric.  Sample std via the sum/sum-of-squares identity on
    exact bigint sums, so the double math is engine-identical:

        std = sqrt((sumsq - sum²/n) / (n-1)) / SCALE

    Pick ``scale`` so that n·(metric·scale)² stays inside int64 — already-
    integer metrics (token counts) pass scale=1.
    """
    m = metric_milli.cast("bigint")
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(m).alias("s"),
        F.sum(m * m).alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    mean = (s / F.lit(scale)) / n
    var = (ss - (s * s) / n) / (n - 1) / F.lit(scale) / F.lit(scale)
    std = F.sqrt(var)
    return agg.select(
        *group_cols,
        n.alias("n_runs"),
        mean.alias("mean_metric"),
        std.alias("std_metric"),
        (F.lit(z) * std / F.sqrt(n)).alias("ci95"),
    )


# two-sided 95% Student-t critical values by degrees of freedom (standard
# published table); > 30 falls back to the normal z.  The reference uses
# scipy's t-ppf (computational_eval.py:17-29); the engine inlines the table
# to stay dependency-free.
_T95 = {
    1: 12.706, 2: 4.303, 3: 3.182, 4: 2.776, 5: 2.571, 6: 2.447, 7: 2.365,
    8: 2.306, 9: 2.262, 10: 2.228, 11: 2.201, 12: 2.179, 13: 2.160,
    14: 2.145, 15: 2.131, 16: 2.120, 17: 2.110, 18: 2.101, 19: 2.093,
    20: 2.086, 21: 2.080, 22: 2.074, 23: 2.069, 24: 2.064, 25: 2.060,
    26: 2.056, 27: 2.052, 28: 2.048, 29: 2.045, 30: 2.042,
}


def t_quantile_95(dof: int) -> float:
    """Two-sided 95% t critical value (A7, ``computational_eval.py:17-29``)."""
    if dof <= 0:
        return float("nan")
    return _T95.get(dof, 1.96)


def mean_ci95_t(
    df: DataFrame,
    metric: Column,
    group_cols: list[str],
    scale: float = 1.0,
) -> DataFrame:
    """A7: mean ± 95% *t*-CI (small-sample form the reference uses for
    token/time cost stats).  The t multiplier depends on the group's n, so
    it's applied via a broadcast-joined critical-value table — still fully
    distributed and oracle-exact."""
    base = mean_ci95(df, metric, group_cols, z=1.0, scale=scale)
    spark = df.sparkSession
    tdf = local_df(spark, 
        [(n + 1, t_quantile_95(n)) for n in range(1, 201)], "n_runs int, t_crit double"
    )
    joined = base.join(F.broadcast(tdf), "n_runs", "left")
    return joined.select(
        *group_cols,
        "n_runs",
        "mean_metric",
        "std_metric",
        (F.coalesce(F.col("t_crit"), F.lit(1.96)) * F.col("ci95")).alias("ci95_t"),
    )


def pass_rate(df: DataFrame, metric: Column, args_cols: list[str], seed_col: str) -> DataFrame:
    """A12: tests_passed = fraction of tests with metric ≥ 1 per
    (args, seed), then per args the POOLED rate (sum passed / sum tests)
    and the max over seeds (``AnaylsisUtils.py:121-208``).  When every
    seed runs the same test set — the reference's case — pooled equals
    its mean-of-means; with unequal counts pooled weights each test once
    (pinned by test_pass_rate_matches_pandas_reference).  All ratios are
    exact int/int divisions."""
    passed = F.sum(F.when(metric >= 1.0, 1).otherwise(0))
    per_seed = df.groupBy(*args_cols, seed_col).agg(
        (passed / F.count(F.lit(1))).alias("pass_rate"),
        passed.alias("n_passed"),
        F.count(F.lit(1)).alias("n_tests"),
    )
    return per_seed.groupBy(*args_cols).agg(
        ((F.sum("n_passed") * F.lit(1.0)) / F.sum("n_tests")).alias("mean_pass_rate"),
        F.max("pass_rate").alias("max_pass_rate"),
    )
