"""Real-dataset end-to-end golden (queries/ehr_q.py): the committed EHR
benchmark through the full mock pipeline, pinned against the pure-Python
twin (tools/golden_ehr.py)."""

import json
import os

import pytest

from scalable_data_integration_with_llms_spark.fixtures.ehr_golden import GOLD, ROUND1
from scalable_data_integration_with_llms_spark.queries import QUERIES

FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scalable_data_integration_with_llms_spark",
    "fixtures",
    "ehr_dataset.json",
)
SF = "/root/testdata/sf0.001"  # unused by the ehr queries, required by contract


def test_fixture_is_the_52_case_benchmark():
    cases = json.load(open(FIXTURE))
    assert len(cases) == 52
    assert len({c["id"] for c in cases}) == 52
    assert sum(len(c["gold_mapping"]) for c in cases) == 310


def test_golden_shapes():
    assert len(GOLD) == 310  # no duplicate gold pairs in this dataset
    assert len(ROUND1) == 542
    # round 1 produces at most one match per source attr per case
    seen = {(c, s) for c, s, _ in ROUND1}
    assert len(seen) == len(ROUND1)


def test_ehr_round1_matches_golden(spark):
    got = {
        (r.case_id, r.src, r.tgt)
        for r in QUERIES["q_ehr_round1_matches"](spark, SF).collect()
    }
    assert got == set(ROUND1)


def test_ehr_f1_plausible_and_complete(spark):
    rows = QUERIES["q_ehr_matching_f1"](spark, SF).collect()
    assert len(rows) == 52
    mean_f1 = sum(r.f1 for r in rows) / len(rows)
    # the mock scorer is a levenshtein heuristic; it must beat random
    # pairing but stays well under a real LLM's quality
    assert 0.05 < mean_f1 < 0.9
    # every gold pair is accounted for: tp+fn partitions the 310 gold pairs
    assert sum(r.tp + r.fn for r in rows) == 310
    for r in rows:
        if r.precision + r.recall > 0:
            expect = 2 * r.precision * r.recall / (r.precision + r.recall)
            assert r.f1 == pytest.approx(expect)


def test_synthea_round1_matches_golden(spark):
    from scalable_data_integration_with_llms_spark.fixtures.ehr_golden import (
        SYNTHEA_GOLD,
        SYNTHEA_ROUND1,
    )

    assert len(SYNTHEA_GOLD) == 105
    got = {
        (r.case_id, r.src, r.tgt)
        for r in QUERIES["q_synthea_round1_matches"](spark, SF).collect()
    }
    assert got == set(SYNTHEA_ROUND1)


def test_synthea_f1_complete(spark):
    rows = QUERIES["q_synthea_matching_f1"](spark, SF).collect()
    assert len(rows) == 12


def test_nn_by_coverage_blocked_equals_allpairs(spark):
    """The dense-level blocked selector must reproduce the all-pairs
    result exactly, including tie-heavy distributions (quantized
    coverages make dist-0 runs the norm, not the exception)."""
    import random

    from scalable_data_integration_with_llms_spark.queries.reference_ops import (
        nn_by_coverage_allpairs,
        nn_by_coverage_blocked,
    )

    rng = random.Random(42)
    for n, n_levels in ((2, 1), (7, 2), (40, 5), (120, 11)):
        rows = [
            (f"case{i:03d}", rng.randrange(n_levels) / max(n_levels - 1, 1))
            for i in range(n)
        ]
        cov = spark.createDataFrame(rows, "case_id string, coverage double")
        a = {tuple(r) for r in nn_by_coverage_allpairs(cov).collect()}
        b = {tuple(r) for r in nn_by_coverage_blocked(cov).collect()}
        assert a == b, f"divergence at n={n}, levels={n_levels}"


def test_ehr_ensemble_f1_complete(spark):
    rows = QUERIES["q_ehr_ensemble_f1"](spark, SF).collect()
    assert len(rows) == 52
    # majority vote with per-seed dropout must beat the empty predictor
    assert sum(r.tp for r in rows) > 0


def test_real_benchmarks_summary_shape(spark):
    rows = {r.dataset: r for r in QUERIES["q_real_benchmarks_summary"](spark, SF).collect()}
    assert set(rows) == {"ehr", "synthea"}
    assert rows["ehr"].n_cases == 52 and rows["synthea"].n_cases == 12
    assert rows["ehr"].total_tp + rows["ehr"].total_fn == 310
    assert rows["synthea"].total_tp + rows["synthea"].total_fn == 105


def test_ehr_rounds_golden(spark):
    from scalable_data_integration_with_llms_spark.fixtures.ehr_golden import ROUNDS

    got = {
        (r.case_id, r["round"], r.src, r.tgt)
        for r in QUERIES["q_ehr_rounds"](spark, SF).collect()
    }
    assert got == set(ROUNDS)
    assert len(got) == 8118
    # every case runs the full 5 rounds at top_k=5 on this dataset
    assert {r for _, r, _, _ in got} == {1, 2, 3, 4, 5}


def test_ehr_round2_oracle(spark, duck):
    from conftest import assert_oracle_match

    assert_oracle_match(spark, duck, "q_ehr_round2_matches")


def test_ehr_bidirectional_scores_oracle(spark, duck):
    from conftest import assert_oracle_match

    assert_oracle_match(spark, duck, "q_ehr_bidirectional_scores")


def test_ehr_topk_sweep(spark, duck):
    from conftest import assert_oracle_match

    assert_oracle_match(spark, duck, "q_ehr_topk_sweep")
    rows = QUERIES["q_ehr_topk_sweep"](spark, SF).collect()
    assert len(rows) == 5 * 52
    # recall is monotone non-decreasing in k: larger k only adds predictions
    by_case = {}
    for r in rows:
        by_case.setdefault(r.case_id, {})[r.k] = r.recall
    for case_id, rec in by_case.items():
        for k in range(1, 5):
            assert rec[k] <= rec[k + 1] + 1e-12, (case_id, k)


def test_ehr_bidirectional_f1_is_topk_sweep_k1(spark):
    """The AN-1 entry must equal the sweep's k=1 slice — same merge, same
    ranking, same metric stack."""
    sweep = {
        (r.case_id, r.tp, r.fp, r.fn)
        for r in QUERIES["q_ehr_topk_sweep"](spark, SF).collect()
        if r.k == 1
    }
    an1 = {
        (r.case_id, r.tp, r.fp, r.fn)
        for r in QUERIES["q_ehr_bidirectional_f1"](spark, SF).collect()
    }
    assert an1 == sweep


def test_preferences_parallelism_is_a_parameter(spark):
    """The shared score-and-rank stage at another scorer task count
    produces the memoized frame's rows (only the plan's parallelism
    moves)."""
    from scalable_data_integration_with_llms_spark.queries.matching import (
        case_catalog,
        preferences,
        score_and_rank,
    )

    base = preferences(spark, "synthea")
    alt = score_and_rank(case_catalog(spark, "synthea"), 4)
    cols = ["case_id", "side", "query_attr", "candidate_attr", "score_milli", "rank"]
    assert {tuple(r) for r in base.select(*cols).collect()} == {
        tuple(r) for r in alt.select(*cols).collect()
    }


def test_ehr_effort_report(spark, duck):
    """The full compute_prf1e row on real data: oracle parity plus the
    reference identities — tp+fn partitions gold, tp+tn <= N, accuracy2
    consistency, and effort's (3·fn+fp)/|gold| form."""
    from conftest import assert_oracle_match

    assert_oracle_match(spark, duck, "q_ehr_effort_report")
    rows = QUERIES["q_ehr_effort_report"](spark, SF).collect()
    assert len(rows) == 52
    assert sum(r.tp + r.fn for r in rows) == 310
    f1s = {r.case_id: r for r in QUERIES["q_ehr_matching_f1"](spark, SF).collect()}
    for r in rows:
        base = f1s[r.case_id]
        assert (r.tp, r.fp, r.fn) == (base.tp, base.fp, base.fn)
        assert r.tn >= 0
        denom = r.tp + r.tn + r.fp + r.fn
        assert r.accuracy2 == pytest.approx((r.tp + r.tn) / denom)
        assert 0.0 <= r.accuracy <= 1.0
        assert r.effort >= 0.0
