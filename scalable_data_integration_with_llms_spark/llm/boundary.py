"""The LLM boundary (SURVEY §2.9 U1/U2) — the engine's single designated
external call site, per the BASELINE.json north star ("LLM inference calls
remain external; DataFrame + UDFs for LLM calls").

Reference behavior being re-expressed:

* ``LLM/llm_classes.py:95-143`` — batched text generation with infinite retry
  on exception; batching via a torch DataLoader (``ask_LLM.py:144-145``).
* ``LLM/llm_classes.py:146-185,261-324`` — candidate scoring: probability of
  each candidate continuation, normalized to a distribution, returned as
  ranked ``[candidate, prob]`` lists.

Spark shape: ``mapInPandas`` — Arrow-batched, executor-side, one external
request per batch (batch size = ``spark.sql.execution.arrow.maxRecordsPerBatch``).
Retries with exponential backoff live inside the UDF; a failed batch retries
without recomputing upstream (the input iterator is replayed per batch).  At
1000 executors this gives bounded concurrent load on the inference service
with no driver bottleneck.

The **mock scorer** implements the same contract deterministically
(SURVEY §7 step 5): score = 1/(1+levenshtein) + type-compatibility bonus,
integer-scaled to "milli" units so downstream normalization is exact
cross-engine arithmetic (see functions/determinism.py).  Tests and the
DuckDB correctness oracle run against the mock; a real backend plugs in by
passing a different ``score_fn``/``generate_fn`` without touching any plan.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame

from ..catalog.schema_catalog import supertype

# Fixed raw score of the synthetic "none of the options" candidate
# (stable_match.py:40-43 treats it as a list terminator; the mock gives it a
# small constant so weak candidates rank below it).
MOCK_NO_MATCH_MILLI = 100_000  # round(0.1 * 1e6)
_SCORE_SCALE = 1_000_000.0


def levenshtein(a: str, b: str) -> int:
    """Classic DP edit distance — definitionally identical to Spark's
    ``F.levenshtein`` and DuckDB's ``levenshtein`` (verified in tests)."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _strip_prefix(name: str) -> str:
    """Drop a single-letter table prefix (``c_custkey`` -> ``custkey``),
    mirroring the reference's attribute-token cleanup (eval_utils.py:238-244)."""
    if len(name) > 2 and name[1] == "_" and name[0].isalpha():
        return name[2:]
    return name


def mock_score_milli(query_attr: str, query_type: str, cand_attr: str, cand_type: str) -> int:
    """Deterministic stand-in for LLM candidate scoring (U2 contract).

    raw = 1/(1 + levenshtein(strip(q), strip(c))) + 0.25·[supertype match]
    returned as round(raw·1e6) — integer milli-score, exact in any engine.
    DuckDB-oracle equivalent:
      CAST(round((1.0/(1.0+levenshtein(q,c)) + CASE ... 0.25 ... END)*1000000, 0) AS BIGINT)
    """
    lev = levenshtein(_strip_prefix(query_attr.lower()), _strip_prefix(cand_attr.lower()))
    raw = 1.0 / (1.0 + lev)
    if supertype(query_type) == supertype(cand_type):
        raw += 0.25
    return int(round(raw * _SCORE_SCALE))


def mock_score_candidates(candidates: DataFrame) -> DataFrame:
    """Score a candidate frame ``(case_id, side, query_attr, query_type,
    candidate_attr, candidate_type)`` through the mapInPandas LLM boundary,
    appending ``score_milli``.  This is the plan-visible external call site —
    swap the body for a real inference client without changing the plan."""
    schema = (
        "case_id string, side string, query_attr string, query_type string, "
        "candidate_attr string, candidate_type string, score_milli bigint"
    )

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["score_milli"] = [
                MOCK_NO_MATCH_MILLI
                if c == "none of the options"
                else mock_score_milli(q, qt, c, ct)
                for q, qt, c, ct in zip(
                    pdf.query_attr, pdf.query_type, pdf.candidate_attr, pdf.candidate_type
                )
            ]
            yield pdf

    return candidates.mapInPandas(batch_fn, schema)


def llm_map(
    df: DataFrame,
    request_fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
    max_retries: int = 8,
    base_backoff_s: float = 1.0,
) -> DataFrame:
    """Generic external-inference boundary: Arrow-batched ``mapInPandas``
    with bounded exponential-backoff retry per batch: the k-th retry of a
    batch waits ``base_backoff_s * 2**(k - 1)`` seconds (at most 60), and
    the batch fails after ``max_retries`` attempts.

    The reference retries forever (``llm_classes.py:133-143``); on a cluster
    that wedges an executor slot, so the engine bounds retries and lets Spark
    task-retry handle the rest.
    """

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            attempt = 0
            while True:
                try:
                    yield request_fn(pdf)
                    break
                except Exception:
                    attempt += 1
                    if attempt >= max_retries:
                        raise
                    time.sleep(min(base_backoff_s * 2 ** (attempt - 1), 60.0))

    return df.mapInPandas(batch_fn, schema)
