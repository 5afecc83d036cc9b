"""Real-dataset end-to-end goldens: the reference's own matching benchmarks
(``Stable Schema Matching/data/{ehr,synthea}/*_dataset.json`` — the 52-case
MIMIC-III → OMOP set and the 12-case Synthea → OMOP set, committed under
``fixtures/``) through the full mock matching pipeline in ONE plan:

    S1 JSON scan → S2 catalog flatten → J1 candidates → U2 mock scoring →
    W1 ranking → U6 stable matching → J4 confusion → A9 per-case PRF1

This converts "every stage is ported" into "the reference experiment
reproduces": the same loader that parity-tests against the reference's
dataset layout feeds the same operators the synthetic queries exercise,
and the result is pinned against a pure-Python pipeline twin
(``tools/golden_ehr.py`` → ``fixtures/ehr_golden.py``) that parses the
JSON independently with stdlib json and its own DP levenshtein.

Scale shape: one case = one independent unit of work (the applyInPandas
stable-matching task); a 100 TB matching corpus is millions of cases, so
every stage here scales out across the case dimension.  The 52+12-case
fixtures are deliberately small — they are CORRECTNESS anchors on real
data, not throughput queries.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import SessionMemo
from ..functions.determinism import TWO_60_SQL, hash60_sql
from ..llm.boundary import mock_score_candidates
from ..operators.candidates import generate_candidates, rank_preferences
from ..operators.metrics import confusion_counts, prf1_columns
from ..operators.stable_matching import round_r, stable_match
from ..sources.dataset_json import catalog_from_cases, load_dataset_json
from .registry import query

_FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures"
)


from ..functions.sql_text import sql_quote as _sq
from ..functions.localframe import local_df


def _values(rows: list[tuple[str, str, str]], alias: str) -> str:
    body = ", ".join(f"({_sq(a)}, {_sq(b)}, {_sq(c)})" for a, b, c in rows)
    return f"(VALUES {body}) AS {alias}(case_id, src, tgt)"


def _golden(dataset: str) -> tuple[list, list]:
    from ..fixtures import ehr_golden as g

    if dataset == "ehr":
        return g.ROUND1, g.GOLD
    return g.SYNTHEA_ROUND1, g.SYNTHEA_GOLD


def dataset_cases_df(spark: SparkSession, dataset: str) -> DataFrame:
    """A committed benchmark through the S1 dataset-JSON scan (the loader
    whose layout parity with the reference is pinned by
    tests/test_dataset_loaders.py)."""
    return load_dataset_json(
        spark, os.path.join(_FIXTURE_DIR, f"{dataset}_dataset.json")
    )


def dataset_gold_df(spark: SparkSession, dataset: str) -> DataFrame:
    """Gold pairs, case-folded (the datasets write source names in table
    case, e.g. SUBJECT_ID, while schema columns are lower case) and
    deduped — the set the reference's eval compares against."""
    return (
        dataset_cases_df(spark, dataset)
        .select(F.col("id").alias("case_id"), F.explode("gold_mapping").alias("p"))
        .select(
            "case_id",
            F.lower(F.col("p")[0]).alias("src"),
            F.lower(F.col("p")[1]).alias("tgt"),
        )
        .distinct()
    )


_PREFS_MEMOS = {"ehr": SessionMemo(), "synthea": SessionMemo()}

# Fixture-scale parallelism defaults.  The scorer is the pipeline's
# dominant compute (per-pair Python levenshtein through mapInPandas:
# ~5.7 s for the ~29k EHR candidate rows on ONE task — profiled r14), and
# the score is per-row deterministic, so spreading it over 8 tasks is
# result-identical and cuts the cold build ~6×.  Eight, not 32: each task
# pays Python-worker spin-up, and with a REAL inference backend each
# partition is a concurrent request stream — 8 keeps fixture-scale load
# bounded.  A handful of post-shuffle output partitions keeps every
# downstream task count small.  At corpus scale pass
# scorer_partitions/output_partitions sized to the case count (or None to
# leave Spark's partitioning untouched) — the pipeline shape is identical,
# only the parallelism knob moves.
_FIXTURE_SCORER_PARTITIONS = 8
_FIXTURE_OUTPUT_PARTITIONS = 4


def _preferences(
    spark: SparkSession,
    dataset: str,
    scorer_partitions: int | None = _FIXTURE_SCORER_PARTITIONS,
    output_partitions: int | None = _FIXTURE_OUTPUT_PARTITIONS,
) -> DataFrame:
    """Scored + ranked preference frame for a benchmark's cases, memoized
    per session: the q_{ehr,synthea}_* queries share it, and the
    mapInPandas scorer must not re-run per consumer (SURVEY §4 recompute
    trap).  Only the fixture-default parallelism is memoized; a scale run
    with explicit partition counts builds its own frame."""

    def build() -> DataFrame:
        catalog = catalog_from_cases(dataset_cases_df(spark, dataset)).select(
            "case_id", "side", "col_name", "col_type"
        )
        cands = generate_candidates(catalog)
        if scorer_partitions is not None:
            cands = cands.coalesce(scorer_partitions)
        ranked = rank_preferences(mock_score_candidates(cands))
        if output_partitions is not None:
            ranked = ranked.coalesce(output_partitions)
        return ranked

    if (scorer_partitions, output_partitions) != (
        _FIXTURE_SCORER_PARTITIONS,
        _FIXTURE_OUTPUT_PARTITIONS,
    ):
        return build()
    return _PREFS_MEMOS[dataset].get_or_build(spark, build)


def _round1(spark: SparkSession, dataset: str) -> DataFrame:
    return round_r(stable_match(_preferences(spark, dataset), top_k=5), 1).select(
        "case_id", "src", "tgt"
    )


def _gold_parity_oracle(dataset: str) -> str:
    _, gold = _golden(dataset)
    return f"SELECT case_id, src, tgt FROM {_values(gold, 'g')}"


def _round1_oracle(dataset: str) -> str:
    round1, _ = _golden(dataset)
    return f"SELECT case_id, src, tgt FROM {_values(round1, 'r1')}"


def _prf1_sql(pred: str, keys: tuple[str, ...] = ("case_id",)) -> str:
    """The shared per-case tp/fp/fn + PRF1 derivation over a predictions
    CTE named ``pred``, a ``gold`` CTE, and a ``cases`` CTE carrying the
    key columns — ONE copy for every real-dataset oracle (round-6 review:
    _f1_oracle and _ensemble_f1_oracle had diverged-by-construction
    duplicates).  ``keys`` prepends extra run dimensions (e.g. the top-k
    sweep's k) carried by pred, gold, and cases alike."""
    kl = ", ".join(keys)
    return """counts AS (
  SELECT {kl},
         COALESCE(tp, 0) AS tp, COALESCE(fp, 0) AS fp, COALESCE(fn, 0) AS fn
  FROM cases
  LEFT JOIN (SELECT {kl}, COUNT(*) AS tp FROM (SELECT * FROM {pred} INTERSECT SELECT * FROM gold) GROUP BY {kl}) t USING ({kl})
  LEFT JOIN (SELECT {kl}, COUNT(*) AS fp FROM (SELECT * FROM {pred} EXCEPT SELECT * FROM gold) GROUP BY {kl}) f USING ({kl})
  LEFT JOIN (SELECT {kl}, COUNT(*) AS fn FROM (SELECT * FROM gold EXCEPT SELECT * FROM {pred}) GROUP BY {kl}) n USING ({kl})
)
SELECT {kl}, tp, fp, fn,
       CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END AS precision,
       CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END AS recall,
       CASE WHEN (CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END)
               + (CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END) = 0 THEN 0.0
            ELSE (2.0 * (CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END)
                      * (CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END))
               / ((CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END)
                + (CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END)) END AS f1
FROM counts""".format(pred=pred, kl=kl)


def _f1_oracle(dataset: str) -> str:
    round1, gold = _golden(dataset)
    return f"""
WITH r1 AS (SELECT DISTINCT case_id, src, tgt FROM {_values(round1, "rv")}),
gold AS (SELECT DISTINCT case_id, src, tgt FROM {_values(gold, "gv")}),
cases AS (SELECT case_id FROM gold UNION SELECT case_id FROM r1),
""" + _prf1_sql("r1") + "\n"


def _f1_df(spark: SparkSession, dataset: str) -> DataFrame:
    counts = confusion_counts(_round1(spark, dataset), dataset_gold_df(spark, dataset))
    return prf1_columns(counts).select(
        "case_id", "tp", "fp", "fn", "precision", "recall", "f1"
    )


# -- EHR (52 MIMIC-III → OMOP cases) ------------------------------------------


@query("q_ehr_gold_parity", _gold_parity_oracle("ehr"))
def q_ehr_gold_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 on the real dataset: the Spark JSON scan's exploded gold pairs
    must equal the stdlib-json parse committed by the golden tool — a
    loader-level parity check on reference data, not synthetic."""
    return dataset_gold_df(spark, "ehr")


@query("q_ehr_round1_matches", _round1_oracle("ehr"))
def q_ehr_round1_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidates → mock scores → ranking → Gale–Shapley round 1 over the
    real 52-case benchmark, pinned row-for-row (542 matches) against the
    pure-Python twin."""
    return _round1(spark, "ehr")


@query("q_ehr_matching_f1", _f1_oracle("ehr"))
def q_ehr_matching_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reproduced reference experiment: per-case precision/recall/F1 of
    the round-1 stable matching against the dataset's gold mapping, for all
    52 real cases.  The oracle derives the same metric stack in SQL from
    the pinned round-1 VALUES and the independently parsed gold pairs."""
    return _f1_df(spark, "ehr")


# -- Synthea (12 Synthea → OMOP cases) ----------------------------------------


@query("q_synthea_round1_matches", _round1_oracle("synthea"))
def q_synthea_round1_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's second benchmark (12 Synthea → OMOP cases) through
    the same pipeline, pinned row-for-row (118 matches) against the twin.
    Synthea cases omit the instance-row counts — the nullable-schema branch
    of the S1 loader, which the EHR set cannot exercise."""
    return _round1(spark, "synthea")


@query("q_synthea_matching_f1", _f1_oracle("synthea"))
def q_synthea_matching_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-case PRF1 for the Synthea benchmark (see q_ehr_matching_f1)."""
    return _f1_df(spark, "synthea")


# -- full stable-match rounds + W3 round-r extraction on the real dataset -----


def _catalog_values_sql() -> str:
    """(case_id, side, col_name_lower, col_type) VALUES from the golden
    tool's independent stdlib-json parse — the base every fully-derived
    EHR oracle (bidirectional, k-sweep, seed-ensemble) builds on."""
    from ..fixtures.ehr_golden import EHR_CATALOG

    body = ", ".join(
        f"({_sq(c)}, {_sq(s)}, {_sq(n)}, {_sq(t)})" for c, s, n, t in EHR_CATALOG
    )
    return f"(VALUES {body}) AS cat(case_id, side, col_name, col_type)"


def _rounds_values(alias: str) -> str:
    from ..fixtures.ehr_golden import ROUNDS

    body = ", ".join(
        f"({_sq(c)}, {r}, {_sq(s)}, {_sq(t)})" for c, r, s, t in ROUNDS
    )
    return f"(VALUES {body}) AS {alias}(case_id, round, src, tgt)"


def _ehr_rounds_oracle() -> str:
    return f"SELECT case_id, round, src, tgt FROM {_rounds_values('rr')}"


@query("q_ehr_rounds", _ehr_rounds_oracle())
def q_ehr_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL Gale–Shapley rounds over the real 52-case benchmark (8118
    cumulative match rows, every case runs the full 5 rounds at top_k=5),
    pinned row-for-row against the pure-Python twin — the complete
    real-data surface the round-r extraction below derives from
    (ask_StableMatcher.py:394-447 keeps round_results whole before
    slicing)."""
    return stable_match(_preferences(spark, "ehr"), top_k=5).withColumn(
        "round", F.col("round").cast("int")
    )


def _ehr_round2_oracle() -> str:
    return f"""
WITH m AS (SELECT case_id, round, src, tgt FROM {_rounds_values('rr')}),
last AS (SELECT case_id, MAX(round) AS max_round FROM m GROUP BY case_id)
SELECT m.case_id, src, tgt
FROM m JOIN last USING (case_id)
WHERE round = LEAST(2, max_round)
"""


@query("q_ehr_round2_matches", _ehr_round2_oracle())
def q_ehr_round2_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 on real data: the round-2 match set of the 52 MIMIC-III → OMOP
    cases (pad-with-last via LEAST, though every case here reaches round 5
    — the short-case fallback stays pinned by the synthetic golden and
    unit fixtures).  Oracle derives the same extraction in SQL from the
    pinned full-rounds VALUES."""
    return round_r(stable_match(_preferences(spark, "ehr"), top_k=5), 2)


# -- J3 bidirectional merge + W2 top-k sweep on the real dataset --------------
# Fully-derived oracles in the q_ehr_ensemble_f1 pattern: levenshtein
# milli-scores over the independently parsed catalog VALUES, both merge
# directions, rank windows, and PRF1 — no pinned golden in the check.


def _ehr_merged_cte() -> str:
    """Bidirectional-merge CTE over the independently parsed EHR catalog:
    forward = target attrs querying source candidates (n_to_one), backward
    = source attrs querying target candidates (one_to_n); zero-drop merge
    quirks (ask_StableMatcher.py:158-186) mirrored exactly."""
    from .matching import _STRIP, _SUPER

    def score(q: str, qt: str, c: str, ct: str) -> str:
        return (
            "CAST(round((1.0 / (1.0 + levenshtein("
            + _STRIP.format(c=q)
            + ", "
            + _STRIP.format(c=c)
            + ")) + CASE WHEN "
            + _SUPER.format(t=qt)
            + " = "
            + _SUPER.format(t=ct)
            + " THEN 0.25 ELSE 0 END) * 1000000, 0) AS BIGINT)"
        )

    fwd = score("t_attr", "t_type", "s_attr", "s_type")
    bwd = score("s_attr", "s_type", "t_attr", "t_type")
    return f"""
WITH catalog AS (SELECT * FROM {_catalog_values_sql()}),
src AS (SELECT case_id, col_name AS s_attr, col_type AS s_type FROM catalog WHERE side = 'source'),
tgt AS (SELECT case_id, col_name AS t_attr, col_type AS t_type FROM catalog WHERE side = 'target'),
pairs AS (SELECT src.case_id, s_attr, s_type, t_attr, t_type
          FROM src JOIN tgt ON src.case_id = tgt.case_id),
merged AS (
  SELECT case_id, s_attr AS src, t_attr AS tgt,
         {fwd} AS fwd_milli,
         {bwd} AS bwd_milli
  FROM pairs
)
"""


def _ehr_bidir_oracle() -> str:
    return _ehr_merged_cte() + """
SELECT case_id, src, tgt, fwd_milli, bwd_milli,
       (fwd_milli * bwd_milli) / 1000000000000.0 AS score
FROM merged
WHERE (fwd_milli * bwd_milli) / 1000000000000.0 <> 0
"""


@query("q_ehr_bidirectional_scores", _ehr_bidir_oracle())
def q_ehr_bidirectional_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 on real data: the multiply/zero-drop bidirectional merge over
    both sides of the 52-case EHR candidates.  The oracle re-derives both
    direction scores and the merge in SQL from the catalog VALUES."""
    from ..operators.candidates import bidirectional_merge

    return bidirectional_merge(_preferences(spark, "ehr"), agg="multiply")


def _topk_ranked_cte() -> str:
    """merged → avg-scored, zero-dropped, rank-windowed per target attr —
    shared by the bidirectional-F1 and k-sweep oracles."""
    return _ehr_merged_cte() + """,
scored AS (
  SELECT case_id, src, tgt, (fwd_milli + bwd_milli) / 2000000.0 AS score
  FROM merged WHERE (fwd_milli + bwd_milli) / 2000000.0 <> 0
),
ranked AS (
  SELECT case_id, src, tgt,
         ROW_NUMBER() OVER (PARTITION BY case_id, tgt
                            ORDER BY score DESC, src ASC, tgt ASC) AS rank
  FROM scored
)
"""


def _ehr_topk_sweep_oracle() -> str:
    _, gold = _golden("ehr")
    return _topk_ranked_cte() + f""",
ks AS (SELECT * FROM (VALUES (1), (2), (3), (4), (5)) AS kv(k)),
pred AS (SELECT k, case_id, src, tgt FROM ranked CROSS JOIN ks WHERE rank <= k),
gold0 AS (SELECT DISTINCT case_id, src, tgt FROM {_values(gold, "gv")}),
gold AS (SELECT k, case_id, src, tgt FROM gold0 CROSS JOIN ks),
cases AS (SELECT k, case_id FROM gold UNION SELECT k, case_id FROM pred),
""" + _prf1_sql("pred", keys=("k", "case_id")) + "\n"


@query("q_ehr_topk_sweep", _ehr_topk_sweep_oracle())
def q_ehr_topk_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's AN-k evaluation sweep on real data
    (eval/eval_MatchMaker.py:227-244 get_top_k + 386-398 k in 1..5): keep
    each target attr's k best avg-merged alignments, then per-(k, case)
    PRF1 vs gold — W2 and A9 exercised together over all five k values in
    ONE plan (the k dimension is a 5-row broadcast, so the merged frame is
    scored once, not five times).  Oracle fully derived in SQL."""
    from ..operators.candidates import bidirectional_merge, top_k_per_query

    merged = bidirectional_merge(_preferences(spark, "ehr"), agg="avg")
    topk = top_k_per_query(merged, 5)
    ks = local_df(spark, [(k,) for k in range(1, 6)], "k int")
    pred = (
        topk.crossJoin(F.broadcast(ks))
        .filter(F.col("rank") <= F.col("k"))
        .select("k", "case_id", "src", "tgt")
    )
    gold = dataset_gold_df(spark, "ehr").crossJoin(F.broadcast(ks))
    counts = confusion_counts(pred, gold, group_cols=["k"])
    return prf1_columns(counts).select(
        "k", "case_id", "tp", "fp", "fn", "precision", "recall", "f1"
    )


def _ehr_bidir_f1_oracle() -> str:
    _, gold = _golden("ehr")
    return _topk_ranked_cte() + f""",
pred AS (SELECT case_id, src, tgt FROM ranked WHERE rank <= 1),
gold AS (SELECT DISTINCT case_id, src, tgt FROM {_values(gold, "gv")}),
cases AS (SELECT case_id FROM gold UNION SELECT case_id FROM pred),
""" + _prf1_sql("pred") + "\n"


@query("q_ehr_bidirectional_f1", _ehr_bidir_f1_oracle())
def q_ehr_bidirectional_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bidirectional (avg-logits) experiment's top-1 evaluation on real
    data: J3 merge → best alignment per target attr → per-case PRF1 vs
    gold, oracle fully derived in SQL (the AN-1 row of the k-sweep as its
    own first-class entry, mirroring the reference's reported setting)."""
    from ..operators.candidates import bidirectional_merge, top_k_per_query

    merged = bidirectional_merge(_preferences(spark, "ehr"), agg="avg")
    pred = top_k_per_query(merged, 1).select("case_id", "src", "tgt")
    counts = confusion_counts(pred, dataset_gold_df(spark, "ehr"))
    return prf1_columns(counts).select(
        "case_id", "tp", "fp", "fn", "precision", "recall", "f1"
    )


# -- seed-ensemble experiment on the real dataset (FULLY-DERIVED oracle) ------
# Unlike the golden-pinned queries above, this oracle derives EVERYTHING in
# SQL from the independently parsed catalog VALUES: levenshtein milli-scores,
# the reference's 4-seed md5 dropout (ask_StableMatcher.py:254 seed list
# [7564, 268799, 87849, 333]), per-seed top-1 runs, majority vote (ties
# kept), and per-case PRF1 — the hardest possible cross-check of the
# real-dataset pipeline.


def _ehr_runs_cte() -> str:
    from .matching import _STRIP, _SUPER, ENSEMBLE_SEEDS

    score_expr = (
        "CAST(round((1.0 / (1.0 + levenshtein("
        + _STRIP.format(c="query_attr")
        + ", "
        + _STRIP.format(c="candidate_attr")
        + ")) + CASE WHEN "
        + _SUPER.format(t="query_type")
        + " = "
        + _SUPER.format(t="candidate_type")
        + " THEN 0.25 ELSE 0 END) * 1000000, 0) AS BIGINT)"
    )
    seeds_sql = ", ".join(f"({s})" for s in ENSEMBLE_SEEDS)
    return f"""
WITH catalog AS (SELECT * FROM {_catalog_values_sql()}),
src AS (SELECT case_id, col_name AS s_attr, col_type AS s_type FROM catalog WHERE side = 'source'),
tgt AS (SELECT case_id, col_name AS t_attr, col_type AS t_type FROM catalog WHERE side = 'target'),
scored AS (
  SELECT src.case_id, t_attr AS query_attr, t_type AS query_type,
         s_attr AS candidate_attr, s_type AS candidate_type
  FROM src JOIN tgt ON src.case_id = tgt.case_id
),
seeds AS (SELECT * FROM (VALUES {seeds_sql}) AS s(seed)),
perturbed AS (
  SELECT seed, scored.*, {score_expr} AS score_milli FROM scored CROSS JOIN seeds
  WHERE {hash60_sql("seed || ':' || case_id || ':' || query_attr || ':' || candidate_attr")}
        / {TWO_60_SQL} >= 0.15
),
runs AS (
  SELECT seed, case_id, candidate_attr AS src, query_attr AS tgt FROM (
    SELECT perturbed.*,
           ROW_NUMBER() OVER (PARTITION BY seed, case_id, query_attr
                              ORDER BY score_milli DESC, candidate_attr ASC) AS rk
    FROM perturbed
  ) WHERE rk = 1
),
majority AS (
  SELECT case_id, src, tgt FROM (
    SELECT case_id, src, tgt, COUNT(*) AS votes,
           MAX(COUNT(*)) OVER (PARTITION BY case_id, tgt) AS max_votes
    FROM runs GROUP BY case_id, src, tgt
  ) WHERE votes = max_votes
)
"""


def _ensemble_f1_oracle() -> str:
    _, gold = _golden("ehr")
    return _ehr_runs_cte() + f""",
gold AS (SELECT DISTINCT case_id, src, tgt FROM {_values(gold, "gv")}),
cases AS (SELECT case_id FROM gold UNION SELECT case_id FROM majority),
""" + _prf1_sql("majority") + "\n"


@query("q_ehr_ensemble_f1", _ensemble_f1_oracle())
def q_ehr_ensemble_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's seed-ensemble experiment on the real dataset: the
    4-seed md5-dropout runs, majority vote (ties kept), per-case PRF1 vs
    gold.  The oracle re-derives every stage in SQL from the independently
    parsed catalog — no pinned golden anywhere in this check."""
    from ..functions.determinism import det_rand
    from ..operators.candidates import NO_MATCH
    from ..operators.ensembles import ensemble_majority
    from .matching import ENSEMBLE_SEEDS

    prefs = _preferences(spark, "ehr").filter(
        (F.col("side") == "n_to_one") & (F.col("candidate_attr") != NO_MATCH)
    )
    seeds = local_df(spark, [(s,) for s in ENSEMBLE_SEEDS], "seed int")
    from pyspark.sql import Window as W

    perturbed = prefs.crossJoin(F.broadcast(seeds)).filter(
        det_rand(F.col("seed"), "case_id", "query_attr", "candidate_attr") >= 0.15
    )
    win = W.partitionBy("seed", "case_id", "query_attr").orderBy(
        F.desc("score_milli"), F.asc("candidate_attr")
    )
    runs = (
        perturbed.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") == 1)
        .select(
            "seed",
            "case_id",
            F.col("candidate_attr").alias("src"),
            F.col("query_attr").alias("tgt"),
        )
    )
    majority = ensemble_majority(runs).select("case_id", "src", "tgt")
    counts = confusion_counts(majority, dataset_gold_df(spark, "ehr"))
    return prf1_columns(counts).select(
        "case_id", "tp", "fp", "fn", "precision", "recall", "f1"
    )


# -- per-dataset experiment summary (the reference's reported table) -----------


def _summary_oracle() -> str:
    parts = []
    for name in ("ehr", "synthea"):
        round1, gold = _golden(name)
        parts.append(f"""
SELECT '{name}' AS dataset, case_id, tp, fp, fn, precision, recall, f1 FROM (
WITH r1 AS (SELECT DISTINCT case_id, src, tgt FROM {_values(round1, "rv")}),
gold AS (SELECT DISTINCT case_id, src, tgt FROM {_values(gold, "gv")}),
cases AS (SELECT case_id FROM gold UNION SELECT case_id FROM r1),
{_prf1_sql("r1")}
)""")
    percase = "\nUNION ALL\n".join(parts)
    return f"""
WITH percase AS ({percase})
SELECT dataset,
       COUNT(*) AS n_cases,
       CAST(SUM(tp) AS BIGINT) AS total_tp,
       CAST(SUM(fp) AS BIGINT) AS total_fp,
       CAST(SUM(fn) AS BIGINT) AS total_fn,
       (SUM(CAST(round(precision * 1000000, 0) AS BIGINT)) / 1000000.0) / COUNT(*) AS mean_precision,
       (SUM(CAST(round(recall * 1000000, 0) AS BIGINT)) / 1000000.0) / COUNT(*) AS mean_recall,
       (SUM(CAST(round(f1 * 1000000, 0) AS BIGINT)) / 1000000.0) / COUNT(*) AS mean_f1
FROM percase
GROUP BY dataset
"""


@query("q_real_benchmarks_summary", _summary_oracle())
def q_real_benchmarks_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's reported experiment table: per-dataset case counts,
    confusion totals, and milli-exact mean P/R/F1 over BOTH committed real
    benchmarks in one plan (eval_dataset.py's per-dataset rollup on
    MIMIC→OMOP and Synthea→OMOP).  Built as a union of the two per-case
    PRF1 frames — the capstone over the round-6 real-data path."""
    milli = lambda c: F.round(F.col(c) * 1_000_000, 0).cast("bigint")  # noqa: E731
    out = None
    for name in ("ehr", "synthea"):
        df = _f1_df(spark, name).withColumn("dataset", F.lit(name))
        out = df if out is None else out.unionByName(df)
    return out.groupBy("dataset").agg(
        F.count(F.lit(1)).alias("n_cases"),
        F.sum("tp").cast("bigint").alias("total_tp"),
        F.sum("fp").cast("bigint").alias("total_fp"),
        F.sum("fn").cast("bigint").alias("total_fn"),
        ((F.sum(milli("precision")) / F.lit(1_000_000.0)) / F.count(F.lit(1))).alias("mean_precision"),
        ((F.sum(milli("recall")) / F.lit(1_000_000.0)) / F.count(F.lit(1))).alias("mean_recall"),
        ((F.sum(milli("f1")) / F.lit(1_000_000.0)) / F.count(F.lit(1))).alias("mean_f1"),
    )


# -- the reference's FULL per-case metric row on real data (A9 + SO6) ----------


def _effort_oracle() -> str:
    """tp/fp/fn/tn + precision/recall/f1/accuracy/accuracy2/effort per case,
    derived in SQL from the pinned round-1 VALUES, the gold VALUES, and the
    independently parsed catalog (eval_utils.py:466-502 compute_prf1e +
    get_tn: TN = target columns neither gold-aligned nor predicted-mapped;
    N = |target columns|; effort = (3·fn + fp)/|gold| — on this dataset the
    raw gold list is duplicate-free, so the deduped VALUES count IS the
    reference's len(gold_mapping))."""
    round1, gold = _golden("ehr")
    p = "CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END"
    r = "CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END"
    return f"""
WITH pred AS (SELECT DISTINCT case_id, src, tgt FROM {_values(round1, "rv")}),
gold AS (SELECT DISTINCT case_id, src, tgt FROM {_values(gold, "gv")}),
cat AS (SELECT * FROM {_catalog_values_sql()}),
tgtcols AS (SELECT case_id, col_name AS tgt FROM cat WHERE side = 'target'),
ncols AS (SELECT case_id, COUNT(*) AS n_target_cols FROM tgtcols GROUP BY case_id),
lengold AS (SELECT case_id, COUNT(*) AS len_gold FROM gold GROUP BY case_id),
counts AS (
  SELECT ncols.case_id,
         COALESCE(t.tp, 0) AS tp, COALESCE(f.fp, 0) AS fp, COALESCE(n.fn, 0) AS fn
  FROM ncols
  LEFT JOIN (SELECT case_id, COUNT(*) AS tp FROM (SELECT * FROM pred INTERSECT SELECT * FROM gold) GROUP BY case_id) t USING (case_id)
  LEFT JOIN (SELECT case_id, COUNT(*) AS fp FROM (SELECT * FROM pred EXCEPT SELECT * FROM gold) GROUP BY case_id) f USING (case_id)
  LEFT JOIN (SELECT case_id, COUNT(*) AS fn FROM (SELECT * FROM gold EXCEPT SELECT * FROM pred) GROUP BY case_id) n USING (case_id)
),
tn AS (
  SELECT t.case_id, COUNT(*) AS tn
  FROM tgtcols t
  WHERE NOT EXISTS (SELECT 1 FROM gold g WHERE g.case_id = t.case_id AND g.tgt = t.tgt)
    AND NOT EXISTS (SELECT 1 FROM pred p WHERE p.case_id = t.case_id AND p.tgt = t.tgt)
  GROUP BY t.case_id
)
SELECT counts.case_id, tp, fp, fn,
       CAST(COALESCE(tn.tn, 0) AS BIGINT) AS tn,
       {p} AS precision,
       {r} AS recall,
       CASE WHEN ({p}) + ({r}) = 0 THEN 0.0
            ELSE (2.0 * ({r}) * ({p})) / (({r}) + ({p})) END AS f1,
       (tp + COALESCE(tn.tn, 0)) / n_target_cols AS accuracy,
       (tp + COALESCE(tn.tn, 0)) / (tp + COALESCE(tn.tn, 0) + fp + fn) AS accuracy2,
       (3 * fn + fp) / len_gold AS effort
FROM counts
JOIN ncols USING (case_id)
JOIN lengold USING (case_id)
LEFT JOIN tn ON tn.case_id = counts.case_id
"""


@query("q_ehr_effort_report", _effort_oracle())
def q_ehr_effort_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's complete per-case evaluation row on real data
    (eval_utils.py:477-502): P/R/F1 plus TN-based accuracy, accuracy2, and
    the annotation-effort score, for all 52 EHR cases — A9 and SO6
    together on the real benchmark.  TN comes from the catalog's target
    columns (one anti-join vs the gold∪pred covered set); every division
    is exact-bigint over exact-bigint, so the doubles are engine-identical."""
    from ..operators.metrics import tn_counts
    from ..sources.dataset_json import catalog_from_cases

    pred = _round1(spark, "ehr")
    gold = dataset_gold_df(spark, "ehr")
    counts = prf1_columns(confusion_counts(pred, gold))
    tgt_cols = (
        catalog_from_cases(dataset_cases_df(spark, "ehr"))
        .filter(F.col("side") == "target")
        .select("case_id", F.col("col_name").alias("tgt"))
    )
    tn = tn_counts(pred, gold, tgt_cols)
    ncols = tgt_cols.groupBy("case_id").agg(
        F.count(F.lit(1)).alias("n_target_cols")
    )
    len_gold = gold.groupBy("case_id").agg(F.count(F.lit(1)).alias("len_gold"))
    out = (
        counts.join(ncols, "case_id")
        .join(len_gold, "case_id")
        .join(tn, "case_id", "left")
        .withColumn("tn", F.coalesce(F.col("tn"), F.lit(0)).cast("bigint"))
    )
    tp, fp, fn, tncol = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    return out.select(
        "case_id", "tp", "fp", "fn", "tn", "precision", "recall", "f1",
        ((tp + tncol) / F.col("n_target_cols")).alias("accuracy"),
        ((tp + tncol) / (tp + tncol + fp + fn)).alias("accuracy2"),
        ((3 * fn + fp) / F.col("len_gold")).alias("effort"),
    )
