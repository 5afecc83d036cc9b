"""Parity against the reference's OWN datasets (read-only data, not code):
the S1 JSON scan + S2 catalog flatten run on the actual ehr (52 MIMIC↔OMOP
cases) and synthea (12 cases) files, checking the invariants the
reference's pipeline relies on."""

import os

import pytest
from pyspark.sql import functions as F

from scalable_data_integration_with_llms_spark.sources.dataset_json import (
    catalog_from_cases,
    load_dataset_json,
)

_DATA = "/root/reference/Stable Schema Matching/data"
EHR = f"{_DATA}/ehr/ehr_dataset.json"
SYNTHEA = f"{_DATA}/synthea/synthea_dataset.json"

pytestmark = pytest.mark.skipif(
    not os.path.exists(EHR), reason="reference datasets not present"
)


def test_case_counts(spark):
    assert load_dataset_json(spark, EHR).count() == 52
    assert load_dataset_json(spark, SYNTHEA).count() == 12


def test_gold_pairs_resolve_in_catalog(spark):
    """Gold-pair endpoints resolve against the schema catalog
    (case-insensitively — the reference lowercases everywhere,
    eval_utils.py:228-324) — EXCEPT the reference data's own quirk: 4 ehr
    gold pairs name `value_as_string`, a column absent from the OMOP
    MEASUREMENT schema as shipped (CHARTEVENTS/LABEVENTS↔MEASUREMENT, both
    directions).  P5 validation exists precisely to classify those as
    invalid-attribute pairs, so the engine must see exactly 4."""
    cases = load_dataset_json(spark, EHR)
    cat = catalog_from_cases(cases)
    gold = cases.select(
        F.col("id").alias("case_id"), F.explode("gold_mapping").alias("pair")
    ).select(
        "case_id",
        F.lower(F.col("pair")[0]).alias("src"),
        F.lower(F.col("pair")[1]).alias("tgt"),
    )
    src_side = cat.filter(F.col("side") == "source").select(
        "case_id", F.col("col_name").alias("src")
    )
    tgt_side = cat.filter(F.col("side") == "target").select(
        "case_id", F.col("col_name").alias("tgt")
    )
    n_gold = gold.distinct().count()
    resolved = (
        gold.join(src_side, ["case_id", "src"])
        .join(tgt_side, ["case_id", "tgt"])
        .distinct()
        .count()
    )
    assert n_gold > 0 and resolved == n_gold - 4
    unresolved = (
        gold.join(src_side, ["case_id", "src"], "left_anti")
        .unionByName(gold.join(tgt_side, ["case_id", "tgt"], "left_anti"))
        .distinct()
        .collect()
    )
    assert all(
        "value_as_string" in (r.src, r.tgt) for r in unresolved
    ), unresolved


def test_swap_reverses_gold_and_sides(spark):
    plain = load_dataset_json(spark, SYNTHEA).orderBy("id").collect()
    swapped = load_dataset_json(spark, SYNTHEA, swap=True).orderBy("id").collect()
    for a, b in zip(plain, swapped):
        assert a.source_schema == b.target_schema
        assert a.target_schema == b.source_schema
        assert [list(p) for p in b.gold_mapping] == [
            [p[1], p[0]] for p in a.gold_mapping
        ]


def test_seeded_shuffle_permutes_not_mutates(spark):
    base = load_dataset_json(spark, SYNTHEA).orderBy("id").collect()
    s7 = load_dataset_json(spark, SYNTHEA, shuffle_seed=7).orderBy("id").collect()
    s7b = load_dataset_json(spark, SYNTHEA, shuffle_seed=7).orderBy("id").collect()
    s9 = load_dataset_json(spark, SYNTHEA, shuffle_seed=9).orderBy("id").collect()
    assert s7 == s7b  # deterministic per seed
    changed = 0
    for a, b, c in zip(base, s7, s9):
        names = lambda r, side: [x["name"] for x in r[side]["columns"]]  # noqa: E731
        for side in ("source_schema", "target_schema"):
            assert sorted(names(a, side)) == sorted(names(b, side))  # permutation
            if names(b, side) != names(a, side) or names(c, side) != names(b, side):
                changed += 1
    assert changed > 0  # some order actually moved


def test_catalog_row_counts_match_schema_widths(spark):
    cases = load_dataset_json(spark, EHR)
    cat = catalog_from_cases(cases)
    expected = cases.select(
        (F.size("source_schema.columns") + F.size("target_schema.columns")).alias("n")
    ).agg(F.sum("n")).collect()[0][0]
    assert cat.count() == expected
    # PK flags parse to booleans, never null
    assert cat.filter(F.col("is_pk").isNull()).count() == 0


def test_full_pipeline_on_real_ehr(spark):
    """SURVEY §3.2's whole lifecycle on the reference's real 52-case ehr
    dataset: JSON scan → catalog flatten → candidate cross-join → mock-LLM
    scoring (mapInPandas boundary) → preference ranking → many-to-many
    stable matching → round-1 extraction → PRF1 vs the real gold pairs.
    The lexical mock scores what an LLM would; the engine around it is the
    part under test — 52 cases, deterministic metrics, twice."""
    from scalable_data_integration_with_llms_spark.operators.metrics import (
        confusion_counts,
        prf1_columns,
    )
    from scalable_data_integration_with_llms_spark.operators.stable_matching import (
        round_r,
        stable_match,
    )
    from scalable_data_integration_with_llms_spark.queries.matching import (
        SCORER_TASKS,
        score_and_rank,
    )

    def run():
        cases = load_dataset_json(spark, EHR)
        cat = catalog_from_cases(cases)
        cat = cat.select("case_id", "side", "col_name", "col_type")
        prefs = score_and_rank(cat, SCORER_TASKS["ehr"])
        matches = round_r(stable_match(prefs, top_k=5), 1)
        gold = cases.select(
            F.col("id").alias("case_id"), F.explode("gold_mapping").alias("p")
        ).select(
            "case_id",
            F.lower(F.col("p")[0]).alias("src"),
            F.lower(F.col("p")[1]).alias("tgt"),
        )
        scored = prf1_columns(confusion_counts(matches.select("case_id", "src", "tgt"), gold))
        return sorted(
            (r.case_id, r.tp, r.fp, r.fn, round(r.f1, 6)) for r in scored.collect()
        )

    first, second = run(), run()
    assert first == second  # byte-stable across full re-executions
    assert len(first) == 52
    total_tp = sum(r[1] for r in first)
    assert total_tp > 0  # the lexical mock does find real alignments
    # and the matcher emits only valid within-case pairs
    assert all(tp + fp >= 0 and fn >= 0 for _, tp, fp, fn, _ in first)


def test_python_datasource_parity(spark):
    """The custom Python DataSource (sources/pyds.py) must produce exactly
    the rows the declared-schema JSON reader produces, on both datasets."""
    from scalable_data_integration_with_llms_spark.sources import pyds

    pyds.register(spark)
    for path in (EHR, SYNTHEA):
        via_ds = (
            spark.read.format(pyds.FORMAT_NAME).load(path).orderBy("id").collect()
        )
        via_json = load_dataset_json(spark, path).orderBy("id").collect()
        assert via_ds == via_json
