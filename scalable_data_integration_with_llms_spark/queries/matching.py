"""Schema-matching pipeline surface: candidate generation → mock-LLM scoring
→ preference ranking → bidirectional merge → top-k → seed ensembles → stable
matching (SURVEY §3.1–§3.2 end-to-end, operators J1/J3/W1/W2/SO1-SO3/A3/U2/U6).
Each stage is defined once here; the static cases, the real benchmarks
(ehr_q.py) and the case-dimension scale probe (tools/prompt_scale.py) all
compose the same functions.

Oracle strategy: the matching cases are driver-side constants
(catalog/cases.py), rendered as a VALUES relation for DuckDB; both engines
compute levenshtein-based milli-scores with identical integer arithmetic, so
the full pipeline — including seed-perturbed ensembles via md5 randomness —
hash-matches.  Stable matching itself is iterative (applyInPandas) and is the
one rows-only entry here; its semantics are pinned by unit fixtures instead
(tests/test_stable_matching.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..caching import SessionMemo
from ..catalog.cases import case_catalog_df, cases_values_sql, gold_values_sql
from ..functions.determinism import TWO_60_SQL, det_rand, hash60_sql
from ..functions.localframe import local_df
from ..llm.boundary import mock_score_candidates
from ..operators.candidates import (
    NO_MATCH,
    bidirectional_merge,
    generate_candidates,
    rank_preferences,
    top_k_per_query,
)
from ..operators.ensembles import ensemble_intersection, ensemble_majority, ensemble_union
from ..operators.metrics import case_prf1
from ..operators.stable_matching import round_r, stable_match
from ..sources.dataset_json import catalog_from_cases, load_dataset_json
from .registry import query

# The reference's full 4-seed ensemble list (ask_StableMatcher.py:254:
# seeds = [7564, 268799, 87849, 333]; sample_nums=[4] uses all four).
ENSEMBLE_SEEDS = [7564, 268799, 87849, 333]

# ---------------------------------------------------------------------------
# shared oracle CTEs
# ---------------------------------------------------------------------------

_STRIP = "regexp_replace({c}, '^[a-z]_', '')"
_SUPER = (
    "CASE WHEN regexp_matches({t}, '^(int|bigint|smallint|tinyint|serial)') THEN 'INTEGER' "
    "WHEN regexp_matches({t}, '^(float|real|double|numeric|decimal)') THEN 'DOUBLE' "
    "ELSE 'TEXT' END"
)


def _base_cte() -> str:
    score_expr = (
        "CASE WHEN candidate_attr = 'none of the options' THEN 100000 "
        "ELSE CAST(round((1.0 / (1.0 + levenshtein("
        + _STRIP.format(c="query_attr")
        + ", "
        + _STRIP.format(c="candidate_attr")
        + ")) + CASE WHEN "
        + _SUPER.format(t="query_type")
        + " = "
        + _SUPER.format(t="candidate_type")
        + " THEN 0.25 ELSE 0 END) * 1000000, 0) AS BIGINT) END"
    )
    return f"""
WITH catalog AS (SELECT * FROM {cases_values_sql()}),
src AS (SELECT case_id, col_name AS s_attr, col_type AS s_type FROM catalog WHERE side = 'source'),
tgt AS (SELECT case_id, col_name AS t_attr, col_type AS t_type FROM catalog WHERE side = 'target'),
pairs AS (SELECT src.case_id, s_attr, s_type, t_attr, t_type FROM src JOIN tgt ON src.case_id = tgt.case_id),
cand AS (
  SELECT case_id, 'n_to_one' AS side, t_attr AS query_attr, t_type AS query_type,
         s_attr AS candidate_attr, s_type AS candidate_type FROM pairs
  UNION ALL
  SELECT case_id, 'one_to_n', s_attr, s_type, t_attr, t_type FROM pairs
  UNION ALL
  SELECT DISTINCT case_id, 'n_to_one', t_attr, t_type, 'none of the options', '' FROM tgt
  UNION ALL
  SELECT DISTINCT case_id, 'one_to_n', s_attr, s_type, 'none of the options', '' FROM src
),
scored AS (SELECT cand.*, {score_expr} AS score_milli FROM cand),
ranked AS (
  SELECT scored.*,
         ROW_NUMBER() OVER (PARTITION BY case_id, side, query_attr
                            ORDER BY score_milli DESC, candidate_attr ASC) AS rank,
         score_milli / SUM(score_milli) OVER (PARTITION BY case_id, side, query_attr) AS score
  FROM scored
),
fwd AS (SELECT case_id, candidate_attr AS src, query_attr AS tgt, score_milli AS fwd_milli
        FROM scored WHERE side = 'n_to_one' AND candidate_attr <> 'none of the options'),
bwd AS (SELECT case_id, query_attr AS src, candidate_attr AS tgt, score_milli AS bwd_milli
        FROM scored WHERE side = 'one_to_n' AND candidate_attr <> 'none of the options'),
merged AS (
  SELECT COALESCE(fwd.case_id, bwd.case_id) AS case_id,
         COALESCE(fwd.src, bwd.src) AS src,
         COALESCE(fwd.tgt, bwd.tgt) AS tgt,
         COALESCE(fwd_milli, 0) AS fwd_milli,
         COALESCE(bwd_milli, 0) AS bwd_milli
  FROM fwd FULL OUTER JOIN bwd
    ON fwd.case_id = bwd.case_id AND fwd.src = bwd.src AND fwd.tgt = bwd.tgt
)
"""


# ---------------------------------------------------------------------------
# the pipeline stages, each written once: the static cases' queries below,
# the EHR/Synthea benchmark queries (ehr_q.py) and tools/prompt_scale.py all
# compose these
# ---------------------------------------------------------------------------

_FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures"
)

# Python tasks of the mock scorer, per case set.  The static set is a few
# hundred candidate rows: one Arrow batch through one worker beats a worker
# per partition.  On the benchmarks the scorer is the pipeline's dominant
# compute (~29k EHR candidate rows of per-pair Python levenshtein: ~5.7 s
# on ONE task, profiled r14) and the score is per-row deterministic, so 8
# tasks are result-identical and cut the cold build ~6×.  Eight, not 32:
# each task pays Python-worker spin-up, and with a REAL inference backend
# each task is a concurrent request stream.
SCORER_TASKS = {"static": 1, "ehr": 8, "synthea": 8}


def dataset_cases_df(spark: SparkSession, dataset: str) -> DataFrame:
    """A committed benchmark (``fixtures/<dataset>_dataset.json``) through
    the S1 dataset-JSON scan (the loader whose layout parity with the
    reference is pinned by tests/test_dataset_loaders.py)."""
    return load_dataset_json(
        spark, os.path.join(_FIXTURE_DIR, f"{dataset}_dataset.json")
    )


def case_catalog(spark: SparkSession, cases: str) -> DataFrame:
    """``(case_id, side, col_name, col_type)`` of a case set: ``static``
    (catalog/cases.py) or a committed benchmark (``ehr``, ``synthea``)."""
    if cases == "static":
        return case_catalog_df(spark)
    return catalog_from_cases(dataset_cases_df(spark, cases)).select(
        "case_id", "side", "col_name", "col_type"
    )


def score_and_rank(catalog: DataFrame, scorer_tasks: int) -> DataFrame:
    """J1 candidates → U2 mock-LLM scoring on ``scorer_tasks`` Python
    tasks → W1 preference ranking."""
    cands = generate_candidates(catalog).coalesce(scorer_tasks)
    return rank_preferences(mock_score_candidates(cands))


_PREFS_MEMOS = {cases: SessionMemo() for cases in SCORER_TASKS}


def preferences(spark: SparkSession, cases: str = "static") -> DataFrame:
    """Scored+ranked preference frame of a case set.

    Persisted and memoized per session (caching.SessionMemo — keyed by the
    live session object, so a recycled id can never serve a dead session's
    frame): the frame feeds many downstream consumers (both merge
    directions, ensembles, stable matching, metrics), and without a persist
    every consumer would re-run the mapInPandas scorer — the exact
    recompute trap SURVEY §4 warns about for sampled/external-call frames.
    Coalesced after the ranking shuffle so every consumer schedules few
    tasks.
    """

    def build() -> DataFrame:
        catalog = case_catalog(spark, cases)
        return score_and_rank(catalog, SCORER_TASKS[cases]).coalesce(4)

    return _PREFS_MEMOS[cases].get_or_build(spark, build)


def seed_runs(prefs: DataFrame) -> DataFrame:
    """SO1 seed runs ``(seed, case_id, src, tgt)``: each seed drops ~15% of
    the n→1 candidates (md5 randomness, mirroring how seed-varied prompts
    change answers) and keeps each target attr's best survivor."""
    seeds = local_df(prefs.sparkSession, [(s,) for s in ENSEMBLE_SEEDS], "seed int")
    perturbed = (
        prefs.filter((F.col("side") == "n_to_one") & (F.col("candidate_attr") != NO_MATCH))
        .crossJoin(F.broadcast(seeds))
        .filter(det_rand(F.col("seed"), "case_id", "query_attr", "candidate_attr") >= 0.15)
    )
    win = W.partitionBy("seed", "case_id", "query_attr").orderBy(
        F.desc("score_milli"), F.asc("candidate_attr")
    )
    return (
        perturbed.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") == 1)
        .select(
            "seed",
            "case_id",
            F.col("candidate_attr").alias("src"),
            F.col("query_attr").alias("tgt"),
        )
    )


def stable_rounds(prefs: DataFrame) -> DataFrame:
    """U6: every Gale–Shapley round ``(case_id, round, src, tgt)`` at top_k=5."""
    return stable_match(prefs, top_k=5).withColumn("round", F.col("round").cast("int"))


def round_matches(prefs: DataFrame, r: int) -> DataFrame:
    """U6 stable matching at top_k=5 → W3 round-r match set ``(case_id,
    src, tgt)``."""
    return round_r(stable_match(prefs, top_k=5), r)


def bidir_top1(prefs: DataFrame) -> DataFrame:
    """J3 avg merge → W2 best alignment ``(case_id, src, tgt)`` per target
    attr."""
    merged = bidirectional_merge(prefs, agg="avg")
    return top_k_per_query(merged, 1).select("case_id", "src", "tgt")


def topk_sweep_prf1(prefs: DataFrame, gold: DataFrame) -> DataFrame:
    """The AN-k sweep (eval/eval_MatchMaker.py:227-244 get_top_k + 386-398
    k in 1..5): each target attr's k best avg-merged alignments, then
    per-(k, case) PRF1 vs gold.  The k dimension is a 5-row broadcast, so
    the merged frame is scored once, not five times."""
    topk = top_k_per_query(bidirectional_merge(prefs, agg="avg"), 5)
    ks = local_df(prefs.sparkSession, [(k,) for k in range(1, 6)], "k int")
    pred = (
        topk.crossJoin(F.broadcast(ks))
        .filter(F.col("rank") <= F.col("k"))
        .select("k", "case_id", "src", "tgt")
    )
    return case_prf1(pred, gold.crossJoin(F.broadcast(ks)), group_cols=["k"])


# -- J1: candidate generation ------------------------------------------------

_CANDIDATES_ORACLE = _base_cte() + """
SELECT case_id, side, query_attr, candidate_attr FROM cand
"""


@query("q_match_candidates", _CANDIDATES_ORACLE)
def q_match_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    cands = generate_candidates(case_catalog_df(spark))
    return cands.select("case_id", "side", "query_attr", "candidate_attr")


# -- U2 + W1: mock-LLM scoring and preference ranking ------------------------

_SCORES_ORACLE = _base_cte() + """
SELECT case_id, side, query_attr, candidate_attr, score_milli, rank, score FROM ranked
"""


@query("q_mock_match_scores", _SCORES_ORACLE)
def q_mock_match_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return preferences(spark).select(
        "case_id", "side", "query_attr", "candidate_attr", "score_milli", "rank", "score"
    )


# -- J3: bidirectional merge (multiply + avg) --------------------------------

_BIDIR_ORACLE = _base_cte() + """
SELECT case_id, src, tgt, fwd_milli, bwd_milli,
       (fwd_milli * bwd_milli) / 1000000000000.0 AS score
FROM merged
WHERE (fwd_milli * bwd_milli) / 1000000000000.0 <> 0
"""


@query("q_bidirectional_scores", _BIDIR_ORACLE)
def q_bidirectional_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bidirectional_merge(preferences(spark), agg="multiply")


# -- W2: top-k alignments per target attribute -------------------------------

_TOPK_ORACLE = _base_cte() + """
SELECT case_id, src, tgt, score, rank FROM (
  SELECT case_id, src, tgt,
         (fwd_milli + bwd_milli) / 2000000.0 AS score,
         ROW_NUMBER() OVER (PARTITION BY case_id, tgt
                            ORDER BY (fwd_milli + bwd_milli) / 2000000.0 DESC, src ASC, tgt ASC) AS rank
  FROM merged
  WHERE (fwd_milli + bwd_milli) / 2000000.0 <> 0
) WHERE rank <= 2
"""


@query("q_topk_alignments", _TOPK_ORACLE)
def q_topk_alignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    merged = bidirectional_merge(preferences(spark), agg="avg")
    return top_k_per_query(merged, 2).select("case_id", "src", "tgt", "score", "rank")


# -- seed-run ensembles (SO1/SO2/A3) -----------------------------------------

_SEEDS_SQL = ", ".join(f"({s})" for s in ENSEMBLE_SEEDS)


def _runs_cte() -> str:
    return _base_cte() + f""",
seeds AS (SELECT * FROM (VALUES {_SEEDS_SQL}) AS s(seed)),
perturbed AS (
  SELECT seed, scored.* FROM scored CROSS JOIN seeds
  WHERE side = 'n_to_one' AND candidate_attr <> 'none of the options'
    AND {hash60_sql("seed || ':' || case_id || ':' || query_attr || ':' || candidate_attr")}
        / {TWO_60_SQL} >= 0.15
),
runs AS (
  SELECT seed, case_id, candidate_attr AS src, query_attr AS tgt FROM (
    SELECT perturbed.*,
           ROW_NUMBER() OVER (PARTITION BY seed, case_id, query_attr
                              ORDER BY score_milli DESC, candidate_attr ASC) AS rk
    FROM perturbed
  ) WHERE rk = 1
)
"""


_RUNS_MEMO = SessionMemo()


def _spark_runs(spark: SparkSession) -> DataFrame:
    return _RUNS_MEMO.get_or_build(spark, lambda: seed_runs(preferences(spark)).coalesce(4))


_UNION_ORACLE = _runs_cte() + "SELECT DISTINCT case_id, src, tgt FROM runs"


@query("q_ensemble_union", _UNION_ORACLE)
def q_ensemble_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ensemble_union(_spark_runs(spark))


_INTERSECTION_ORACLE = _runs_cte() + f"""
SELECT case_id, src, tgt FROM (
  SELECT case_id, src, tgt, COUNT(*) AS n
  FROM (SELECT DISTINCT seed, case_id, src, tgt FROM runs)
  GROUP BY case_id, src, tgt
) WHERE n = {len(ENSEMBLE_SEEDS)}
"""


@query("q_ensemble_intersection", _INTERSECTION_ORACLE)
def q_ensemble_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ensemble_intersection(_spark_runs(spark), len(ENSEMBLE_SEEDS))


_MAJORITY_ORACLE = _runs_cte() + """
SELECT case_id, src, tgt, votes FROM (
  SELECT case_id, src, tgt, COUNT(*) AS votes,
         MAX(COUNT(*)) OVER (PARTITION BY case_id, tgt) AS max_votes
  FROM runs
  GROUP BY case_id, src, tgt
) WHERE votes = max_votes
"""


@query("q_ensemble_majority", _MAJORITY_ORACLE)
def q_ensemble_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ensemble_majority(_spark_runs(spark))


# -- U6: stable matching (iterative; rows-only check) ------------------------



_STABLE_GOLDEN_ORACLE = """
SELECT * FROM (VALUES
  ('tpch:CUSTOMER|noisy:CUST', 1, 'c_acctbal', 'acct_balance'),
  ('tpch:CUSTOMER|noisy:CUST', 1, 'c_custkey', 'cust_id'),
  ('tpch:CUSTOMER|noisy:CUST', 1, 'c_mktsegment', 'segment'),
  ('tpch:CUSTOMER|noisy:CUST', 1, 'c_name', 'cust_nm'),
  ('tpch:CUSTOMER|noisy:CUST', 1, 'c_nationkey', 'nation_code'),
  ('tpch:CUSTOMER|noisy:CUST', 2, 'c_acctbal', 'acct_balance'),
  ('tpch:CUSTOMER|noisy:CUST', 2, 'c_acctbal', 'nation_code'),
  ('tpch:CUSTOMER|noisy:CUST', 2, 'c_custkey', 'cust_id'),
  ('tpch:CUSTOMER|noisy:CUST', 2, 'c_custkey', 'cust_nm'),
  ('tpch:CUSTOMER|noisy:CUST', 2, 'c_mktsegment', 'acct_balance'),
  ('tpch:CUSTOMER|noisy:CUST', 2, 'c_mktsegment', 'segment'),
  ('tpch:CUSTOMER|noisy:CUST', 2, 'c_name', 'cust_nm'),
  ('tpch:CUSTOMER|noisy:CUST', 2, 'c_name', 'segment'),
  ('tpch:CUSTOMER|noisy:CUST', 2, 'c_nationkey', 'cust_id'),
  ('tpch:CUSTOMER|noisy:CUST', 2, 'c_nationkey', 'nation_code'),
  ('tpch:CUSTOMER|noisy:CUST', 3, 'c_acctbal', 'acct_balance'),
  ('tpch:CUSTOMER|noisy:CUST', 3, 'c_acctbal', 'cust_id'),
  ('tpch:CUSTOMER|noisy:CUST', 3, 'c_acctbal', 'nation_code'),
  ('tpch:CUSTOMER|noisy:CUST', 3, 'c_custkey', 'cust_id'),
  ('tpch:CUSTOMER|noisy:CUST', 3, 'c_custkey', 'cust_nm'),
  ('tpch:CUSTOMER|noisy:CUST', 3, 'c_custkey', 'segment'),
  ('tpch:CUSTOMER|noisy:CUST', 3, 'c_mktsegment', 'acct_balance'),
  ('tpch:CUSTOMER|noisy:CUST', 3, 'c_mktsegment', 'cust_nm'),
  ('tpch:CUSTOMER|noisy:CUST', 3, 'c_mktsegment', 'segment'),
  ('tpch:CUSTOMER|noisy:CUST', 3, 'c_name', 'cust_nm'),
  ('tpch:CUSTOMER|noisy:CUST', 3, 'c_name', 'nation_code'),
  ('tpch:CUSTOMER|noisy:CUST', 3, 'c_name', 'segment'),
  ('tpch:CUSTOMER|noisy:CUST', 3, 'c_nationkey', 'acct_balance'),
  ('tpch:CUSTOMER|noisy:CUST', 3, 'c_nationkey', 'cust_id'),
  ('tpch:CUSTOMER|noisy:CUST', 3, 'c_nationkey', 'nation_code'),
  ('tpch:CUSTOMER|noisy:CUST', 4, 'c_acctbal', 'acct_balance'),
  ('tpch:CUSTOMER|noisy:CUST', 4, 'c_acctbal', 'cust_id'),
  ('tpch:CUSTOMER|noisy:CUST', 4, 'c_acctbal', 'cust_nm'),
  ('tpch:CUSTOMER|noisy:CUST', 4, 'c_acctbal', 'nation_code'),
  ('tpch:CUSTOMER|noisy:CUST', 4, 'c_custkey', 'acct_balance'),
  ('tpch:CUSTOMER|noisy:CUST', 4, 'c_custkey', 'cust_id'),
  ('tpch:CUSTOMER|noisy:CUST', 4, 'c_custkey', 'cust_nm'),
  ('tpch:CUSTOMER|noisy:CUST', 4, 'c_custkey', 'segment'),
  ('tpch:CUSTOMER|noisy:CUST', 4, 'c_mktsegment', 'acct_balance'),
  ('tpch:CUSTOMER|noisy:CUST', 4, 'c_mktsegment', 'cust_id'),
  ('tpch:CUSTOMER|noisy:CUST', 4, 'c_mktsegment', 'cust_nm'),
  ('tpch:CUSTOMER|noisy:CUST', 4, 'c_mktsegment', 'segment'),
  ('tpch:CUSTOMER|noisy:CUST', 4, 'c_name', 'cust_nm'),
  ('tpch:CUSTOMER|noisy:CUST', 4, 'c_name', 'nation_code'),
  ('tpch:CUSTOMER|noisy:CUST', 4, 'c_name', 'segment'),
  ('tpch:CUSTOMER|noisy:CUST', 4, 'c_nationkey', 'acct_balance'),
  ('tpch:CUSTOMER|noisy:CUST', 4, 'c_nationkey', 'cust_id'),
  ('tpch:CUSTOMER|noisy:CUST', 4, 'c_nationkey', 'nation_code'),
  ('tpch:CUSTOMER|noisy:CUST', 4, 'c_nationkey', 'segment'),
  ('tpch:CUSTOMER|noisy:CUST', 5, 'c_acctbal', 'acct_balance'),
  ('tpch:CUSTOMER|noisy:CUST', 5, 'c_acctbal', 'cust_id'),
  ('tpch:CUSTOMER|noisy:CUST', 5, 'c_acctbal', 'cust_nm'),
  ('tpch:CUSTOMER|noisy:CUST', 5, 'c_acctbal', 'nation_code'),
  ('tpch:CUSTOMER|noisy:CUST', 5, 'c_acctbal', 'segment'),
  ('tpch:CUSTOMER|noisy:CUST', 5, 'c_custkey', 'acct_balance'),
  ('tpch:CUSTOMER|noisy:CUST', 5, 'c_custkey', 'cust_id'),
  ('tpch:CUSTOMER|noisy:CUST', 5, 'c_custkey', 'cust_nm'),
  ('tpch:CUSTOMER|noisy:CUST', 5, 'c_custkey', 'nation_code'),
  ('tpch:CUSTOMER|noisy:CUST', 5, 'c_custkey', 'segment'),
  ('tpch:CUSTOMER|noisy:CUST', 5, 'c_mktsegment', 'acct_balance'),
  ('tpch:CUSTOMER|noisy:CUST', 5, 'c_mktsegment', 'cust_id'),
  ('tpch:CUSTOMER|noisy:CUST', 5, 'c_mktsegment', 'cust_nm'),
  ('tpch:CUSTOMER|noisy:CUST', 5, 'c_mktsegment', 'segment'),
  ('tpch:CUSTOMER|noisy:CUST', 5, 'c_name', 'cust_id'),
  ('tpch:CUSTOMER|noisy:CUST', 5, 'c_name', 'cust_nm'),
  ('tpch:CUSTOMER|noisy:CUST', 5, 'c_name', 'nation_code'),
  ('tpch:CUSTOMER|noisy:CUST', 5, 'c_name', 'segment'),
  ('tpch:CUSTOMER|noisy:CUST', 5, 'c_nationkey', 'acct_balance'),
  ('tpch:CUSTOMER|noisy:CUST', 5, 'c_nationkey', 'cust_id'),
  ('tpch:CUSTOMER|noisy:CUST', 5, 'c_nationkey', 'cust_nm'),
  ('tpch:CUSTOMER|noisy:CUST', 5, 'c_nationkey', 'nation_code'),
  ('tpch:CUSTOMER|noisy:CUST', 5, 'c_nationkey', 'segment'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 1, 'c_acctbal', 's_acctbal'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 1, 'c_custkey', 's_suppkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 1, 'c_name', 's_name'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 1, 'c_nationkey', 's_nationkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 2, 'c_acctbal', 's_acctbal'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 2, 'c_acctbal', 's_name'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 2, 'c_custkey', 's_nationkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 2, 'c_custkey', 's_suppkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 2, 'c_name', 's_acctbal'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 2, 'c_name', 's_name'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 2, 'c_nationkey', 's_nationkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 2, 'c_nationkey', 's_suppkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 3, 'c_acctbal', 's_acctbal'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 3, 'c_acctbal', 's_name'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 3, 'c_acctbal', 's_suppkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 3, 'c_custkey', 's_acctbal'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 3, 'c_custkey', 's_nationkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 3, 'c_custkey', 's_suppkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 3, 'c_mktsegment', 's_name'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 3, 'c_name', 's_acctbal'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 3, 'c_name', 's_name'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 3, 'c_name', 's_nationkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 3, 'c_nationkey', 's_nationkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 3, 'c_nationkey', 's_suppkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 4, 'c_acctbal', 's_acctbal'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 4, 'c_acctbal', 's_name'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 4, 'c_acctbal', 's_nationkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 4, 'c_acctbal', 's_suppkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 4, 'c_custkey', 's_acctbal'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 4, 'c_custkey', 's_name'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 4, 'c_custkey', 's_nationkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 4, 'c_custkey', 's_suppkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 4, 'c_mktsegment', 's_name'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 4, 'c_name', 's_acctbal'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 4, 'c_name', 's_name'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 4, 'c_name', 's_nationkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 4, 'c_name', 's_suppkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 4, 'c_nationkey', 's_acctbal'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 4, 'c_nationkey', 's_nationkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 4, 'c_nationkey', 's_suppkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 5, 'c_acctbal', 's_acctbal'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 5, 'c_acctbal', 's_name'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 5, 'c_acctbal', 's_nationkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 5, 'c_acctbal', 's_suppkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 5, 'c_custkey', 's_acctbal'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 5, 'c_custkey', 's_name'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 5, 'c_custkey', 's_nationkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 5, 'c_custkey', 's_suppkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 5, 'c_mktsegment', 's_name'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 5, 'c_mktsegment', 's_nationkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 5, 'c_name', 's_acctbal'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 5, 'c_name', 's_name'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 5, 'c_name', 's_nationkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 5, 'c_name', 's_suppkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 5, 'c_nationkey', 's_acctbal'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 5, 'c_nationkey', 's_name'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 5, 'c_nationkey', 's_nationkey'),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 5, 'c_nationkey', 's_suppkey'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 1, 'event_id', 'evt_id'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 1, 'event_type', 'event_time'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 1, 'props', 'payload_json'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 1, 'ts', 'kind'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 1, 'user_id', 'uid'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 1, 'value', 'amount'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 2, 'event_id', 'evt_id'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 2, 'event_id', 'uid'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 2, 'event_type', 'event_time'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 2, 'event_type', 'kind'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 2, 'props', 'amount'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 2, 'props', 'payload_json'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 2, 'ts', 'event_time'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 2, 'ts', 'kind'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 2, 'user_id', 'evt_id'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 2, 'user_id', 'uid'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 2, 'value', 'amount'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 2, 'value', 'payload_json'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 3, 'event_id', 'event_time'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 3, 'event_id', 'evt_id'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 3, 'event_id', 'uid'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 3, 'event_type', 'event_time'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 3, 'event_type', 'kind'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 3, 'event_type', 'payload_json'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 3, 'props', 'amount'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 3, 'props', 'kind'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 3, 'props', 'payload_json'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 3, 'ts', 'event_time'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 3, 'ts', 'kind'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 3, 'ts', 'uid'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 3, 'user_id', 'amount'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 3, 'user_id', 'evt_id'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 3, 'user_id', 'uid'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 3, 'value', 'amount'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 3, 'value', 'evt_id'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 3, 'value', 'payload_json'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 4, 'event_id', 'event_time'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 4, 'event_id', 'evt_id'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 4, 'event_id', 'kind'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 4, 'event_id', 'uid'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 4, 'event_type', 'event_time'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 4, 'event_type', 'evt_id'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 4, 'event_type', 'kind'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 4, 'event_type', 'payload_json'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 4, 'props', 'amount'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 4, 'props', 'event_time'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 4, 'props', 'kind'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 4, 'props', 'payload_json'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 4, 'ts', 'event_time'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 4, 'ts', 'kind'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 4, 'ts', 'payload_json'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 4, 'ts', 'uid'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 4, 'user_id', 'amount'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 4, 'user_id', 'evt_id'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 4, 'user_id', 'uid'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 4, 'value', 'amount'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 4, 'value', 'evt_id'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 4, 'value', 'payload_json'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 4, 'value', 'uid'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'event_id', 'amount'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'event_id', 'event_time'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'event_id', 'evt_id'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'event_id', 'kind'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'event_id', 'uid'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'event_type', 'event_time'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'event_type', 'evt_id'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'event_type', 'kind'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'event_type', 'payload_json'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'props', 'amount'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'props', 'event_time'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'props', 'kind'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'props', 'payload_json'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'props', 'uid'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'ts', 'event_time'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'ts', 'evt_id'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'ts', 'kind'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'ts', 'payload_json'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'ts', 'uid'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'user_id', 'amount'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'user_id', 'evt_id'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'user_id', 'kind'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'user_id', 'uid'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'value', 'amount'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'value', 'event_time'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'value', 'evt_id'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'value', 'payload_json'),
  ('tpch:EVENTS|noisy:EVENT_LOG', 5, 'value', 'uid'),
  ('tpch:ORDERS|tpch:LINEITEM', 1, 'o_custkey', 'l_partkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 1, 'o_orderdate', 'l_shipdate'),
  ('tpch:ORDERS|tpch:LINEITEM', 1, 'o_orderkey', 'l_orderkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 1, 'o_orderpriority', 'l_suppkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 1, 'o_orderstatus', 'l_quantity'),
  ('tpch:ORDERS|tpch:LINEITEM', 1, 'o_totalprice', 'l_extendedprice'),
  ('tpch:ORDERS|tpch:LINEITEM', 2, 'o_custkey', 'l_partkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 2, 'o_custkey', 'l_suppkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 2, 'o_orderdate', 'l_orderkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 2, 'o_orderdate', 'l_shipdate'),
  ('tpch:ORDERS|tpch:LINEITEM', 2, 'o_orderkey', 'l_orderkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 2, 'o_orderkey', 'l_partkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 2, 'o_orderpriority', 'l_shipdate'),
  ('tpch:ORDERS|tpch:LINEITEM', 2, 'o_orderpriority', 'l_suppkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 2, 'o_orderstatus', 'l_extendedprice'),
  ('tpch:ORDERS|tpch:LINEITEM', 2, 'o_orderstatus', 'l_quantity'),
  ('tpch:ORDERS|tpch:LINEITEM', 2, 'o_totalprice', 'l_extendedprice'),
  ('tpch:ORDERS|tpch:LINEITEM', 2, 'o_totalprice', 'l_quantity'),
  ('tpch:ORDERS|tpch:LINEITEM', 3, 'o_custkey', 'l_orderkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 3, 'o_custkey', 'l_partkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 3, 'o_custkey', 'l_suppkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 3, 'o_orderdate', 'l_orderkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 3, 'o_orderdate', 'l_partkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 3, 'o_orderdate', 'l_shipdate'),
  ('tpch:ORDERS|tpch:LINEITEM', 3, 'o_orderkey', 'l_orderkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 3, 'o_orderkey', 'l_partkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 3, 'o_orderkey', 'l_suppkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 3, 'o_orderpriority', 'l_extendedprice'),
  ('tpch:ORDERS|tpch:LINEITEM', 3, 'o_orderpriority', 'l_shipdate'),
  ('tpch:ORDERS|tpch:LINEITEM', 3, 'o_orderpriority', 'l_suppkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 3, 'o_orderstatus', 'l_extendedprice'),
  ('tpch:ORDERS|tpch:LINEITEM', 3, 'o_orderstatus', 'l_quantity'),
  ('tpch:ORDERS|tpch:LINEITEM', 3, 'o_orderstatus', 'l_shipdate'),
  ('tpch:ORDERS|tpch:LINEITEM', 3, 'o_totalprice', 'l_extendedprice'),
  ('tpch:ORDERS|tpch:LINEITEM', 3, 'o_totalprice', 'l_quantity'),
  ('tpch:ORDERS|tpch:LINEITEM', 4, 'o_custkey', 'l_orderkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 4, 'o_custkey', 'l_partkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 4, 'o_custkey', 'l_quantity'),
  ('tpch:ORDERS|tpch:LINEITEM', 4, 'o_custkey', 'l_suppkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 4, 'o_orderdate', 'l_orderkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 4, 'o_orderdate', 'l_partkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 4, 'o_orderdate', 'l_shipdate'),
  ('tpch:ORDERS|tpch:LINEITEM', 4, 'o_orderdate', 'l_suppkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 4, 'o_orderkey', 'l_orderkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 4, 'o_orderkey', 'l_partkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 4, 'o_orderkey', 'l_shipdate'),
  ('tpch:ORDERS|tpch:LINEITEM', 4, 'o_orderkey', 'l_suppkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 4, 'o_orderpriority', 'l_extendedprice'),
  ('tpch:ORDERS|tpch:LINEITEM', 4, 'o_orderpriority', 'l_orderkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 4, 'o_orderpriority', 'l_shipdate'),
  ('tpch:ORDERS|tpch:LINEITEM', 4, 'o_orderpriority', 'l_suppkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 4, 'o_orderstatus', 'l_extendedprice'),
  ('tpch:ORDERS|tpch:LINEITEM', 4, 'o_orderstatus', 'l_partkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 4, 'o_orderstatus', 'l_quantity'),
  ('tpch:ORDERS|tpch:LINEITEM', 4, 'o_orderstatus', 'l_shipdate'),
  ('tpch:ORDERS|tpch:LINEITEM', 4, 'o_totalprice', 'l_extendedprice'),
  ('tpch:ORDERS|tpch:LINEITEM', 4, 'o_totalprice', 'l_quantity'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_custkey', 'l_orderkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_custkey', 'l_partkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_custkey', 'l_quantity'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_custkey', 'l_shipdate'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_custkey', 'l_suppkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_orderdate', 'l_orderkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_orderdate', 'l_partkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_orderdate', 'l_quantity'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_orderdate', 'l_shipdate'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_orderdate', 'l_suppkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_orderkey', 'l_extendedprice'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_orderkey', 'l_orderkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_orderkey', 'l_partkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_orderkey', 'l_shipdate'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_orderkey', 'l_suppkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_orderpriority', 'l_extendedprice'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_orderpriority', 'l_orderkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_orderpriority', 'l_partkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_orderpriority', 'l_shipdate'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_orderpriority', 'l_suppkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_orderstatus', 'l_extendedprice'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_orderstatus', 'l_orderkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_orderstatus', 'l_partkey'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_orderstatus', 'l_quantity'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_orderstatus', 'l_shipdate'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_totalprice', 'l_extendedprice'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_totalprice', 'l_quantity'),
  ('tpch:ORDERS|tpch:LINEITEM', 5, 'o_totalprice', 'l_suppkey')) AS t(case_id, round, src, tgt)
"""


@query("q_stable_matching", _STABLE_GOLDEN_ORACLE)
def q_stable_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gale–Shapley rounds over the mock preferences.  The iterative
    propose/displace loop is not SQL-expressible, so the oracle pins the
    golden output (sanity-anchored: round 1 of the customer|supplier case is
    exactly its gold mapping, and the low-overlap orders|lineitem case pairs
    only the orderkeys); the algorithm's semantics are separately pinned by
    unit fixtures (tests/test_stable_matching.py) and hypothesis property
    tests (tests/test_matching_properties.py)."""
    return stable_rounds(preferences(spark))


_ROUND2_ORACLE = f"""
WITH m AS ({_STABLE_GOLDEN_ORACLE}),
last AS (SELECT case_id, MAX(round) AS max_round FROM m GROUP BY case_id)
SELECT m.case_id, src, tgt
FROM m JOIN last USING (case_id)
WHERE round = LEAST(2, max_round)
"""


@query("q_match_round2", _ROUND2_ORACLE)
def q_match_round2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 round-r extraction: the round-2 match set, shorter cases falling
    back to their last round (ask_StableMatcher.py:374-447).  The oracle
    derives the same extraction in SQL from the pinned stable-matching
    rounds, so W3's pad-with-last semantics are independently checked."""
    return round_matches(preferences(spark), 2)


_GOLD_FILTER_ORACLE = _runs_cte() + f""",
gold AS (SELECT * FROM {gold_values_sql()})
SELECT DISTINCT runs.case_id, runs.src, runs.tgt
FROM runs JOIN gold USING (case_id, src, tgt)
"""


@query("q_ensemble_gold_filter", _GOLD_FILTER_ORACLE)
def q_ensemble_gold_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO4 (eval_ensemble.py:119-126): ensemble union ∩ gold — the oracle
    upper bound."""
    from ..catalog.cases import gold_alignments_df
    from ..operators.ensembles import gold_filter

    return gold_filter(_spark_runs(spark), gold_alignments_df(spark))


# -- SURVEY §7 hard part 5: filtered_preferences reconstruction ---------------
# The reference's postprocess_confidence_scores.py is absent from the repo;
# its consumers (ask_StableMatcher.py:79-97) define the semantics: a raw MCQ
# preference list is truncated at the "none of the options" entry — only
# candidates the model ranked ABOVE the no-match option survive.

_FILTERED_PREFS_ORACLE = _base_cte() + """
SELECT r.case_id, r.side, r.query_attr, r.candidate_attr, r.score_milli, r.rank
FROM ranked r
JOIN (SELECT case_id, side, query_attr, rank AS nm_rank
      FROM ranked WHERE candidate_attr = 'none of the options') nm
  ON r.case_id = nm.case_id AND r.side = nm.side AND r.query_attr = nm.query_attr
WHERE r.rank < nm.nm_rank
"""


@query("q_filtered_preferences", _FILTERED_PREFS_ORACLE)
def q_filtered_preferences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filtered_preferences (reconstructed): truncate each ranked list at
    the no-match terminator (ask_StableMatcher.py:88-92)."""
    prefs = preferences(spark)
    nm = prefs.filter(F.col("candidate_attr") == NO_MATCH).select(
        "case_id", "side", "query_attr", F.col("rank").alias("nm_rank")
    )
    return (
        prefs.join(nm, ["case_id", "side", "query_attr"])
        .filter(F.col("rank") < F.col("nm_rank"))
        .select("case_id", "side", "query_attr", "candidate_attr", "score_milli", "rank")
    )


@query("q_stable_matching_dist", _STABLE_GOLDEN_ORACLE)
def q_stable_matching_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed round engine (operators/stable_matching_dist.py):
    Gale–Shapley as iterative DataFrame joins for cases too large for one
    task, emulating the reference's sequential pass semantics (seasoned-B
    stickiness, incumbent-wins-ties, schema-order tie-break).  Pinned to
    the SAME golden oracle as q_stable_matching — both implementations
    must produce byte-identical rounds."""
    from ..operators.stable_matching_dist import stable_match_distributed

    return stable_match_distributed(preferences(spark), top_k=5).withColumn(
        "round", F.col("round").cast("int")
    )
