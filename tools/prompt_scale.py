#!/usr/bin/env python
"""Scale-curve the prompt-assembly surface (VERDICT r5 item 5).

The prompt queries (q_mm_prompts / q_icl_prompt_render /
q_question_cost_report / q_generate_questions_record) read the fixed
driver-side case catalog, so the sf-dir scale harness cannot stress them —
their scale axis is the CASE dimension.  This probe replicates the real
52-case EHR catalog K× (disjoint case ids, same schemas) and times the
exact plan shapes those queries are built from:

* ``mm_render``  — per-case ObjectHashAggregate ``collect_list`` of option
  parts + broadcast-joined codegen'd ``concat`` prompt per target attr
  (the q_mm_prompts / q_repr_* shape — the collect_list the verdict
  flagged);
* ``icl_pack``   — fixed broadcast demo pool × targets, per-row greedy
  ``F.aggregate`` packing fold (the q_icl_prompt_render shape);
* ``cost_report``— whitespace token sums over the rendered prompts rolled
  up to the config dimension (the q_question_cost_report /
  q_generate_questions_record shape).

Each stage is forced with a sum-of-lengths aggregate so driver transfer
stays off the clock.  Verdict rule mirrors tools/scale_curve.py scaled to
the 100× replica point: ratio at 100× cases ≤ 120 is linear-ok.

    python tools/prompt_scale.py          # writes SCALE_CURVE_PROMPT_r06.json
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import DataFrame, SparkSession, Window as W  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def catalog(spark: SparkSession, copies: int) -> DataFrame:
    from scalable_data_integration_with_llms_spark.queries.ehr_q import dataset_cases_df
    from scalable_data_integration_with_llms_spark.sources.dataset_json import catalog_from_cases

    base = catalog_from_cases(dataset_cases_df(spark, "ehr")).withColumn(
        "col_idx",
        F.row_number().over(
            W.partitionBy("case_id", "side").orderBy("col_name")
        ),
    )
    reps = spark.range(copies).select(F.col("id").alias("rep"))
    return base.crossJoin(reps).withColumn(
        "case_id", F.concat_ws("#", "case_id", "rep")
    )


def mm_render(spark: SparkSession, cat: DataFrame) -> DataFrame:
    src = cat.filter(F.col("side") == "source")
    part = F.concat("table_name", F.lit("-"), "col_name", F.lit("("), "col_type", F.lit(")"))
    opts = (
        src.withColumn("part", part)
        .groupBy("case_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("col_idx", F.col("part").alias("p")))),
                lambda s: s["p"],
            ).alias("parts")
        )
        .select(
            "case_id",
            F.concat(F.lit("['"), F.array_join("parts", "', '"), F.lit("']")).alias("cands"),
        )
    )
    tgt = cat.filter(F.col("side") == "target").select(
        "case_id", F.col("col_name").alias("query_attr"), F.col("col_type").alias("query_type")
    )
    return tgt.join(F.broadcast(opts), "case_id").select(
        "case_id",
        "query_attr",
        F.concat(
            F.lit("Input Schema:\n"), F.col("cands"),
            F.lit("\nInput Query:\n"), F.col("query_attr"),
            F.lit("("), F.col("query_type"), F.lit(")"),
        ).alias("prompt"),
    )


def icl_pack(spark: SparkSession, cat: DataFrame) -> DataFrame:
    from scalable_data_integration_with_llms_spark.functions.text import token_count

    targets = mm_render(spark, cat).withColumnRenamed("prompt", "target_user")
    pool_rows = [
        (f"demo{i}", f"user text for demo {i} " + "tok " * (5 + i % 7), f"['answer_{i}']")
        for i in range(20)
    ]
    pool = spark.createDataFrame(pool_rows, "demo_case string, u string, a string")
    demos = (
        targets.crossJoin(F.broadcast(pool))
        .groupBy("case_id", "query_attr", "target_user")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("demo_case", "u", "a"))
            ).alias("pool")
        )
    )
    k, max_seq, ans_len = 2, 1024, 50
    init = F.struct(
        F.lit(0).alias("n"),
        token_count(F.col("target_user")).alias("toks"),
        F.array().cast("array<struct<u:string,a:string>>").alias("sel"),
    )

    def step(acc, d):
        cost = token_count(d["u"]) + token_count(d["a"])
        fits = (acc["n"] < F.lit(k)) & (acc["toks"] + cost + F.lit(ans_len) <= F.lit(max_seq))
        grown = F.struct(
            (acc["n"] + 1).alias("n"),
            (acc["toks"] + cost).alias("toks"),
            F.concat(acc["sel"], F.array(F.struct(d["u"].alias("u"), d["a"].alias("a")))).alias("sel"),
        )
        return F.when(fits, grown).otherwise(acc)

    packed = F.aggregate(F.col("pool"), init, step)
    shots = F.array_join(
        F.transform(
            packed["sel"],
            lambda s: F.concat(
                F.lit("<|im_start|>user\n"), s["u"],
                F.lit("<|im_end|>\n<|im_start|>assistant\n"), s["a"],
                F.lit("<|im_end|>\n"),
            ),
        ),
        "",
    )
    return demos.select(
        "case_id",
        "query_attr",
        packed["n"].alias("n_examples"),
        F.concat(shots, F.lit("<|im_start|>user\n"), F.col("target_user")).alias("prompt"),
    )


def cost_report(spark: SparkSession, cat: DataFrame) -> DataFrame:
    from scalable_data_integration_with_llms_spark.functions.text import token_count

    prompts = icl_pack(spark, cat).withColumn(
        "config", F.concat(F.lit("k2_n"), F.col("n_examples"))
    )
    return prompts.groupBy("config").agg(
        F.count(F.lit(1)).cast("int").alias("n_questions"),
        F.sum(token_count(F.col("prompt"))).cast("bigint").alias("sum_prompt_tokens"),
    )


def match_pipeline(spark: SparkSession, cat: DataFrame) -> DataFrame:
    """The core matching pipeline across the case dimension: candidates →
    mock scoring (mapInPandas) → ranking → per-case Gale–Shapley
    (applyInPandas) → round-1 extraction.  THE at-scale shape of the
    engine (millions of independent cases on a corpus feed)."""
    from scalable_data_integration_with_llms_spark.operators.stable_matching import (
        round_r,
        stable_match,
    )

    matched = round_r(stable_match(_ranked_prefs(cat), top_k=5), 1)
    return matched.select(
        "case_id", F.concat("src", F.lit(">"), "tgt").alias("prompt")
    )


def matching_f1(spark: SparkSession, cat: DataFrame) -> DataFrame:
    """The full reproduced experiment (q_ehr_matching_f1's plan) across the
    case dimension: match_pipeline's stages plus the gold confusion join
    and per-case PRF1 — gold pairs replicated with the same disjoint case
    ids, so the metric tail scales with the cases exactly like the
    pipeline head does."""
    from scalable_data_integration_with_llms_spark.operators.metrics import (
        confusion_counts,
        prf1_columns,
    )
    from scalable_data_integration_with_llms_spark.operators.stable_matching import (
        round_r,
        stable_match,
    )

    pred = round_r(stable_match(_ranked_prefs(cat), top_k=5), 1)
    return prf1_columns(confusion_counts(pred, _replicated_gold(spark, cat)))


def _ranked_prefs(cat: DataFrame) -> DataFrame:
    from scalable_data_integration_with_llms_spark.llm.boundary import mock_score_candidates
    from scalable_data_integration_with_llms_spark.operators.candidates import (
        generate_candidates,
        rank_preferences,
    )

    cands = generate_candidates(cat.select("case_id", "side", "col_name", "col_type"))
    return rank_preferences(mock_score_candidates(cands))


def _replicated_gold(spark: SparkSession, cat: DataFrame) -> DataFrame:
    from scalable_data_integration_with_llms_spark.queries.ehr_q import dataset_gold_df

    reps = cat.select("rep").distinct()
    return (
        dataset_gold_df(spark, "ehr")
        .crossJoin(F.broadcast(reps))
        .withColumn("case_id", F.concat_ws("#", "case_id", "rep"))
    )


def bidir_f1(spark: SparkSession, cat: DataFrame) -> DataFrame:
    """q_ehr_bidirectional_f1's plan across the case dimension: candidate
    scoring → J3 avg merge → top-1 per target attr → per-case PRF1 vs the
    replicated gold (round-8 scale-curve row VERDICT r7 asked for)."""
    from scalable_data_integration_with_llms_spark.operators.candidates import (
        bidirectional_merge,
        top_k_per_query,
    )
    from scalable_data_integration_with_llms_spark.operators.metrics import (
        confusion_counts,
        prf1_columns,
    )

    merged = bidirectional_merge(_ranked_prefs(cat), agg="avg")
    pred = top_k_per_query(merged, 1).select("case_id", "src", "tgt")
    return prf1_columns(confusion_counts(pred, _replicated_gold(spark, cat)))


def topk_sweep(spark: SparkSession, cat: DataFrame) -> DataFrame:
    """q_ehr_topk_sweep's plan across the case dimension: one scored merge,
    the 5-row k dimension broadcast in, per-(k, case) PRF1 — the k sweep
    must stay a broadcast multiplier, not 5 re-scores, at every case
    count."""
    from scalable_data_integration_with_llms_spark.operators.candidates import (
        bidirectional_merge,
        top_k_per_query,
    )
    from scalable_data_integration_with_llms_spark.operators.metrics import (
        confusion_counts,
        prf1_columns,
    )

    merged = bidirectional_merge(_ranked_prefs(cat), agg="avg")
    topk = top_k_per_query(merged, 5)
    ks = spark.createDataFrame([(k,) for k in range(1, 6)], "k int")
    pred = (
        topk.crossJoin(F.broadcast(ks))
        .filter(F.col("rank") <= F.col("k"))
        .select("k", "case_id", "src", "tgt")
    )
    gold = _replicated_gold(spark, cat).crossJoin(F.broadcast(ks))
    return prf1_columns(confusion_counts(pred, gold, group_cols=["k"]))


STAGES = {
    "mm_render": mm_render,
    "icl_pack": icl_pack,
    "cost_report": cost_report,
    "match_pipeline": match_pipeline,
    "matching_f1": matching_f1,
    "bidir_f1": bidir_f1,
    "topk_sweep": topk_sweep,
}


def force(df: DataFrame) -> None:
    if "f1" in df.columns:
        df.agg(F.sum("f1"), F.count(F.lit(1))).collect()
    elif "prompt" in df.columns:
        df.agg(F.sum(F.length("prompt")), F.count(F.lit(1))).collect()
    else:
        df.agg(F.sum("sum_prompt_tokens"), F.count(F.lit(1))).collect()


def main() -> None:
    from harness import session, timed

    spark = session("sdi-prompt-scale")
    c1 = catalog(spark, 1).persist()
    c10 = catalog(spark, 10).persist()
    c100 = catalog(spark, 100).persist()
    print(f"catalog rows: 1x={c1.count()}, 10x={c10.count()}, 100x={c100.count()}")
    for name, fn in STAGES.items():  # warm codegen off the clock
        force(fn(spark, c1))

    results = {}
    for name, fn in STAGES.items():
        row = {}
        for label, cat in (("x1", c1), ("x10", c10), ("x100", c100)):
            row[label] = round(min(timed(lambda: force(fn(spark, cat)), 2)), 3)
        row["ratio"] = round(row["x10"] / row["x1"], 2)
        row["ratio100"] = round(row["x100"] / row["x1"], 2)
        # 100x data with linear scaling + scheduling slack -> <=120
        row["verdict"] = "linear-ok" if row["ratio100"] <= 120 else "INVESTIGATE"
        results[name] = row
        print(f"{name:14s} x1={row['x1']:6.2f}s x10={row['x10']:7.2f}s "
              f"x100={row['x100']:8.2f}s r10={row['ratio']:5.2f} "
              f"r100={row['ratio100']:6.2f}  {row['verdict']}")

    out = os.path.join(
        ROOT, sys.argv[1] if len(sys.argv) > 1 else "SCALE_CURVE_PROMPT_r07.json"
    )
    with open(out, "w") as fh:
        json.dump({"replicas": [1, 10, 100], "base_cases": 52, "results": results}, fh, indent=1)
    print("wrote", out)


if __name__ == "__main__":
    main()
