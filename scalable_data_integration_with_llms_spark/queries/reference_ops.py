"""Reference-operator surface, round 2 of coverage (SURVEY §2): response
parsing + validation (F3–F5, P5, P8), MCQ scores, yes/no majority (A4),
ICL example packing (U5) and selection (W4), gold-in-options (J7), dataset
swap (S1), softmax normalization (F9), prompt assembly (§3.1 stages 5–7).

Canned LLM responses (FIXTURES B6) are module constants rendered to VALUES
for the oracle, like catalog/cases.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog.cases import (
    case_catalog_df,
    cases_values_sql,
    gold_alignments_df,
    gold_values_sql,
)
from ..functions.text import token_count
from ..operators.validation import (
    extract_matches_json,
    parse_mcq_scores,
    parse_pairs,
    validate_mcq_list,
    validate_pairs,
)
from ..sources.readers import load_table
from .matching import ENSEMBLE_SEEDS, _base_cte, preferences
from .registry import query
from ..functions.localframe import local_df

_CASE1 = "tpch:CUSTOMER|tpch:SUPPLIER"

# (case_id, attr, response) — JSON matches blocks incl. each error class
JSON_RESPONSES = [
    (_CASE1, "s_name", "Sure! {'matches': ['c_name, s_name', '<c_acctbal>, <s_acctbal>']} done."),
    (_CASE1, "s_name", "{'matches': ['c_bogus, s_name']}"),
    (_CASE1, "s_name", "{'matches': ['c_name, c_mktsegment']}"),
    (_CASE1, "s_name", "{'matches': ['c_name, c_name']}"),
    (_CASE1, "s_suppkey", "{'matches': ['source_table.c_custkey, target_table.s_suppkey']}"),
]

MCQ_RESPONSES = [
    (_CASE1, "s_name", "Scores: (A): 85 (B): 70 (C): 10"),
    (_CASE1, "s_acctbal", "(A): 5 (B): 95"),
    (_CASE1, "s_nationkey", "no scores here"),
]

REFINED_RESPONSES = [
    (_CASE1, "s_name", "Refined String List: ['c_name', 'c_acctbal']"),
    (_CASE1, "s_name", "['c_name', 'c_bogus']"),
    (_CASE1, "s_name", "Refined String List: ['c_name','c_acctbal','c_custkey','c_nationkey','c_mktsegment','c_name']"),
    (_CASE1, "s_name", "no list at all"),
]


def _values(rows: list[tuple], cols: list[str]) -> str:
    from ..functions.sql_text import sql_quote as lit

    body = ",\n  ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"(VALUES\n  {body}) AS t({', '.join(cols)})"


# -- F3/F4/F5 + P5: parse + validate JSON matches -----------------------------

_PARSE_ORACLE = f"""
WITH catalog AS (SELECT * FROM {cases_values_sql()}),
resp AS (SELECT * FROM {_values(JSON_RESPONSES, ['case_id', 'attr', 'response'])}),
blocks AS (
  SELECT case_id, attr,
         CAST(replace(regexp_extract(response, '(\\{{[^}}]*matches[^}}]*\\}})', 1), '''', '"')::JSON
              ->'$.matches' AS VARCHAR[]) AS matches
  FROM resp
),
pairs AS (
  SELECT case_id,
         replace(lower(regexp_replace(trim(string_split(p, ',')[1]), '^<|>$', '', 'g')), 'source_table.', '') AS pair_src,
         replace(lower(regexp_replace(trim(string_split(p, ',')[2]), '^<|>$', '', 'g')), 'target_table.', '') AS pair_tgt
  FROM blocks, unnest(matches) AS u(p)
),
flags AS (
  SELECT p.case_id, pair_src, pair_tgt,
         EXISTS (SELECT 1 FROM catalog c WHERE c.case_id = p.case_id AND c.side = 'source' AND c.col_name = pair_src) AS s_in_s,
         EXISTS (SELECT 1 FROM catalog c WHERE c.case_id = p.case_id AND c.side = 'target' AND c.col_name = pair_tgt) AS t_in_t,
         EXISTS (SELECT 1 FROM catalog c WHERE c.case_id = p.case_id AND c.side = 'target' AND c.col_name = pair_src) AS s_in_t,
         EXISTS (SELECT 1 FROM catalog c WHERE c.case_id = p.case_id AND c.side = 'source' AND c.col_name = pair_tgt) AS t_in_s
  FROM pairs p
)
SELECT case_id, pair_src, pair_tgt,
       CAST(s_in_s AND t_in_t AS INT) AS is_valid,
       CASE WHEN s_in_s AND t_in_t THEN 0
            ELSE CAST(NOT s_in_s AND NOT s_in_t AS INT) + CAST(NOT t_in_t AND NOT t_in_s AS INT) END AS invalid_attribute,
       CAST(NOT (s_in_s AND t_in_t)
            AND ((s_in_s AND t_in_s AND NOT t_in_t) OR (s_in_t AND t_in_t AND NOT s_in_s)) AS INT) AS same_schema,
       CAST(NOT (s_in_s AND t_in_t)
            AND ((s_in_s AND t_in_s AND NOT t_in_t) OR (s_in_t AND t_in_t AND NOT s_in_s))
            AND pair_src = pair_tgt AS INT) AS same_attribute
FROM flags
"""


@query("q_parse_matches_json", _PARSE_ORACLE)
def q_parse_matches_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    resp = local_df(spark, JSON_RESPONSES, "case_id string, attr string, response string")
    parsed = resp.withColumn("matches", extract_matches_json("response")).filter(
        F.col("matches").isNotNull()
    )
    pairs = parse_pairs(parsed)
    return validate_pairs(pairs, case_catalog_df(spark)).select(
        "case_id", "pair_src", "pair_tgt", "is_valid", "invalid_attribute",
        "same_schema", "same_attribute",
    )


# -- MCQ score extraction -----------------------------------------------------

_MCQ_ORACLE = f"""
WITH resp AS (SELECT * FROM {_values(MCQ_RESPONSES, ['case_id', 'attr', 'response'])})
SELECT case_id, attr,
       unnest(regexp_extract_all(response, '\\(([A-Z])\\): *([0-9]+)', 1)) AS option_letter,
       unnest(regexp_extract_all(response, '\\(([A-Z])\\): *([0-9]+)', 2))::BIGINT AS mcq_score
FROM resp
"""


@query("q_mcq_scores", _MCQ_ORACLE)
def q_mcq_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    resp = local_df(spark, MCQ_RESPONSES, "case_id string, attr string, response string")
    return parse_mcq_scores(resp).select("case_id", "attr", "option_letter", "mcq_score")


# -- P8: refined-list validation ----------------------------------------------

_OPTIONS_SQL = f"""
SELECT case_id, col_name AS option FROM {cases_values_sql()}
WHERE side = 'source' AND case_id = '{_CASE1.replace("'", "''")}'
"""

_REFINED_ORACLE = f"""
WITH resp AS (SELECT * FROM {_values(REFINED_RESPONSES, ['case_id', 'attr', 'response'])}),
opts AS (SELECT case_id, list(option) AS opt_list FROM ({_OPTIONS_SQL}) GROUP BY case_id),
parsed AS (
  SELECT case_id, attr, response,
         TRY_CAST(TRY_CAST(replace(
           CASE WHEN contains(x, '[') AND contains(x, ']') THEN x ELSE '[' || x || ']' END,
           '''', '"') AS JSON) AS VARCHAR[]) AS candidates
  FROM (SELECT case_id, attr, response,
               CASE WHEN contains(response, 'Refined String List:')
                    THEN string_split(response, 'Refined String List:')[2]
                    ELSE response END AS x
        FROM resp)
)
SELECT p.case_id, attr, response,
       COALESCE(CAST(candidates IS NOT NULL AND len(candidates) <= 5
            AND len(list_filter(candidates, c -> NOT list_contains(opt_list, c))) = 0
            AS INT), 0) AS accepted
FROM parsed p LEFT JOIN opts o ON p.case_id = o.case_id
"""


@query("q_mcq_validation", _REFINED_ORACLE)
def q_mcq_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    resp = local_df(spark, REFINED_RESPONSES, "case_id string, attr string, response string")
    options = (
        case_catalog_df(spark)
        .filter((F.col("side") == "source") & (F.col("case_id") == _CASE1))
        .select("case_id", F.col("col_name").alias("option"))
    )
    return validate_mcq_list(resp, options).select("case_id", "attr", "response", "accepted")


# -- A4: yes/no majority ------------------------------------------------------

_YESNO_ORACLE = """
SELECT user_id,
       CAST(SUM(CASE WHEN value > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS yes_count,
       CAST(SUM(CASE WHEN value <= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS no_count,
       CAST(SUM(CASE WHEN value > 0.5 THEN 1 ELSE 0 END)
            > SUM(CASE WHEN value <= 0.5 THEN 1 ELSE 0 END) AS INT) AS accepted
FROM events
GROUP BY user_id
"""


@query("q_yes_no_majority", _YESNO_ORACLE)
def q_yes_no_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TaDa-style yes/no vote (eval_ensemble.py:92-115): value > 0.5 = yes."""
    e = load_table(spark, sf_dir, "events")
    yes = F.sum(F.when(F.col("value") > 0.5, 1).otherwise(0))
    no = F.sum(F.when(F.col("value") <= 0.5, 1).otherwise(0))
    return e.groupBy("user_id").agg(
        yes.alias("yes_count"),
        no.alias("no_count"),
        (yes > no).cast("int").alias("accepted"),
    )


# -- U5: greedy token-budget packing (cumulative-sum form) --------------------

_PACKING_BUDGET = 2048
_PACKING_ANS = 800  # max_ans_len for matching (SURVEY §6)

_PACKING_ORACLE = f"""
SELECT doc_id, lang, n_tokens, cum_tokens, pack_rank FROM (
  SELECT doc_id, lang, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS pack_rank
  FROM (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens FROM documents)
) WHERE cum_tokens + {_PACKING_ANS} <= {_PACKING_BUDGET}
"""


@query("q_icl_packing", _PACKING_ORACLE)
def q_icl_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy example packing while tokens + max_ans_len <= budget
    (PromptICLTemplate.py:195-219) — the sequential greedy loop is exactly a
    running-sum window, so it stays JVM-side instead of applyInPandas."""
    d = load_table(spark, sf_dir, "documents")
    win = W.partitionBy("lang").orderBy("doc_id")
    toks = d.select("doc_id", "lang", token_count("text").alias("n_tokens"))
    return (
        toks.withColumn(
            "cum_tokens",
            F.sum("n_tokens").over(win.rowsBetween(W.unboundedPreceding, 0)),
        )
        .withColumn("pack_rank", F.row_number().over(win))
        .filter(F.col("cum_tokens") + _PACKING_ANS <= _PACKING_BUDGET)
    )


# -- W4: nearest-neighbor example selection -----------------------------------

_SELECTION_ORACLE = _base_cte() + """,
cov AS (
  SELECT case_id,
         SUM(CASE WHEN candidate_attr <> 'none of the options' AND rank = 1 THEN 1 ELSE 0 END)
           / COUNT(DISTINCT query_attr) AS coverage
  FROM ranked WHERE side = 'n_to_one'
  GROUP BY case_id
)
SELECT case_id, example_case, cov_dist, nn_rank FROM (
  SELECT a.case_id, b.case_id AS example_case,
         abs(a.coverage - b.coverage) AS cov_dist,
         ROW_NUMBER() OVER (PARTITION BY a.case_id
                            ORDER BY abs(a.coverage - b.coverage) ASC, b.case_id ASC) AS nn_rank
  FROM cov a JOIN cov b ON a.case_id <> b.case_id
) WHERE nn_rank <= 2
"""


def _case_coverage(spark: SparkSession) -> DataFrame:
    """Per-case coverage ratio over the n_to_one preferences — shared by
    both example-selector variants (they verify against ONE oracle, so the
    coverage definition must be literally shared, round-6 review)."""
    from ..operators.candidates import NO_MATCH

    prefs = preferences(spark).filter(F.col("side") == "n_to_one")
    return prefs.groupBy("case_id").agg(
        (
            F.sum(
                F.when(
                    (F.col("candidate_attr") != NO_MATCH) & (F.col("rank") == 1), 1
                ).otherwise(0)
            )
            / F.countDistinct("query_attr")
        ).alias("coverage")
    )


@query("q_example_selection", _SELECTION_ORACLE)
def q_example_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank candidate ICL example cases by |coverage − target coverage|
    (ExampleSelectorTemplate.py:117-146).

    CONTRACT: the example pool is the experiment's case dimension (the
    reference runs 52+12 cases), so the all-pairs coverage-distance stage
    is quadratic in CASES, not in data.  The pool side is runtime-guarded
    at 10⁴ cases (``guard_dimension`` — job fails loudly past the bound);
    a corpus-scale pool needs a blocked/ANN variant of the selector
    instead, like the embedding queries' IVF path."""
    cov = _case_coverage(spark)
    return nn_by_coverage_allpairs(cov)


def nn_by_coverage_allpairs(cov: DataFrame) -> DataFrame:
    """Top-2 coverage-nearest example cases via the guarded all-pairs join
    (the direct reference-semantics form; cov = (case_id, coverage))."""
    from ..operators.candidates import guard_dimension

    guarded = guard_dimension(cov, 10_000, "q_example_selection case pool")
    a = guarded.select(F.col("case_id"), F.col("coverage").alias("cov_a"))
    b = guarded.select(F.col("case_id").alias("example_case"), F.col("coverage").alias("cov_b"))
    pairs = a.crossJoin(b).filter(F.col("case_id") != F.col("example_case"))
    win = W.partitionBy("case_id").orderBy(F.asc("cov_dist"), F.asc("example_case"))
    return (
        pairs.withColumn("cov_dist", F.abs(F.col("cov_a") - F.col("cov_b")))
        .withColumn("nn_rank", F.row_number().over(win))
        .filter(F.col("nn_rank") <= 2)
        .select("case_id", "example_case", "cov_dist", "nn_rank")
    )


@query("q_example_selection_scalable", _SELECTION_ORACLE)
def q_example_selection_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blocked scale path for the example selector — EXACTLY the same
    result as q_example_selection (same oracle), without the all-pairs join.

    Coverage distance is 1-D, so k-NN reduces to neighboring *coverage
    levels*: rank the distinct coverage values densely (row_number — the
    level table is dimension-sized: ≤ |distinct coverages| rows), keep a
    bounded candidate set per level (the 3 smallest case ids at the level
    itself, the 2 smallest at each of the 2 dense levels either side), and
    take the top-2 by (distance, case id) from that set.  Sufficiency:
    level indices are dense, so if a case has ≥2 other cases anywhere, at
    least 2 candidates fall within ±2 levels — own-level ties need at most
    the 3 smallest ids (self may be one), and each adjacent level's best
    contributor is its smallest ids.  Cost is O(n log n) by coverage level
    instead of O(n²) pairs: the corpus-scale variant the guarded cross
    join in q_example_selection points to."""
    cov = _case_coverage(spark)
    return nn_by_coverage_blocked(cov)


def nn_by_coverage_blocked(cov: DataFrame) -> DataFrame:
    """Top-2 coverage-nearest example cases via dense-level blocking —
    provably identical output to :func:`nn_by_coverage_allpairs` (the
    randomized equivalence test in tests/test_ehr_e2e.py drives both over
    tie-heavy coverage distributions)."""
    # level table: one row per distinct coverage, dense index, 3 smallest ids
    levels = (
        cov.groupBy("coverage")
        .agg(F.slice(F.array_sort(F.collect_list("case_id")), 1, 3).alias("ids"))
        .withColumn(
            # dimension-sized global sort (distinct coverage values), the
            # same bounded-driver shape as the BPE vocabulary collect
            "lvl", F.row_number().over(W.orderBy("coverage"))
        )
    )
    # each case looks at its own level and ±2 dense levels
    mine = cov.join(
        levels.select(F.col("coverage"), F.col("lvl").alias("my_lvl")), "coverage"
    )
    offsets = F.explode(F.array(*[F.lit(o) for o in range(-2, 3)])).alias("off")
    probes = mine.select("case_id", "coverage", "my_lvl", offsets).withColumn(
        "cand_lvl", F.col("my_lvl") + F.col("off")
    )
    cands = (
        probes.join(
            F.broadcast(
                levels.select(
                    F.col("lvl").alias("cand_lvl"),
                    F.col("coverage").alias("cand_cov"),
                    "ids",
                )
            ),
            "cand_lvl",
        )
        .select(
            "case_id",
            "coverage",
            "cand_cov",
            F.explode("ids").alias("example_case"),
        )
        .filter(F.col("case_id") != F.col("example_case"))
    )
    win = W.partitionBy("case_id").orderBy(F.asc("cov_dist"), F.asc("example_case"))
    return (
        cands.withColumn("cov_dist", F.abs(F.col("coverage") - F.col("cand_cov")))
        .withColumn("nn_rank", F.row_number().over(win))
        .filter(F.col("nn_rank") <= 2)
        .select("case_id", "example_case", "cov_dist", "nn_rank")
    )


# -- J7: gold-pair-in-options semi-join ---------------------------------------

_IN_OPTIONS_ORACLE = _base_cte() + f""",
gold AS (SELECT * FROM {gold_values_sql()})
SELECT s.case_id, s.query_attr,
       CAST(EXISTS (
         SELECT 1 FROM gold g
         WHERE g.case_id = s.case_id AND g.tgt = s.query_attr
           AND g.src IN (SELECT candidate_attr FROM scored s2
                         WHERE s2.case_id = s.case_id AND s2.side = 'n_to_one'
                           AND s2.query_attr = s.query_attr)
       ) AS INT) AS gold_in_options
FROM (SELECT DISTINCT case_id, query_attr FROM scored WHERE side = 'n_to_one') s
"""


@query("q_gold_in_options", _IN_OPTIONS_ORACLE)
def q_gold_in_options(spark: SparkSession, sf_dir: str) -> DataFrame:
    """is_in_the_options (eval_confidence_score.py:7-9)."""
    prefs = preferences(spark).filter(F.col("side") == "n_to_one")
    gold = gold_alignments_df(spark)
    hit = prefs.join(
        gold,
        (prefs.case_id == gold.case_id)
        & (prefs.query_attr == gold.tgt)
        & (prefs.candidate_attr == gold.src),
        "left_semi",
    ).select("case_id", "query_attr").distinct().withColumn("gold_in_options", F.lit(1))
    lists = prefs.select("case_id", "query_attr").distinct()
    return lists.join(hit, ["case_id", "query_attr"], "left").fillna(0, ["gold_in_options"])


# -- S1: source/target swap (gold pairs reversed) -----------------------------

_SWAP_ORACLE = f"""
SELECT case_id, tgt AS src, src AS tgt, 1 AS swapped
FROM {gold_values_sql()}
"""


@query("q_case_swap", _SWAP_ORACLE)
def q_case_swap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset swap (utils/data_builder.py:26-43): swapping source/target
    also reverses every gold pair — array(x[1], x[0]) over the pair list."""
    gold = gold_alignments_df(spark)
    return gold.select(
        "case_id",
        F.col("tgt").alias("src"),
        F.col("src").alias("tgt"),
        F.lit(1).alias("swapped"),
    )


# -- F9: softmax normalization ------------------------------------------------

_SOFTMAX_ORACLE = _base_cte() + """
SELECT case_id, side, query_attr, candidate_attr,
       round(exp((score_milli - mx) / 1000000.0)
             / SUM(exp((score_milli - mx) / 1000000.0))
                 OVER (PARTITION BY case_id, side, query_attr), 9) AS softmax_score
FROM (SELECT scored.*, MAX(score_milli) OVER (PARTITION BY case_id, side, query_attr) AS mx
      FROM scored)
"""


@query("q_softmax_scores", _SOFTMAX_ORACLE)
def q_softmax_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable softmax over candidate scores (llm_classes.py:167-176).
    The exp-sum is the one double aggregate that cannot be integer-scaled;
    rounded to 9 dp on both engines."""
    prefs = preferences(spark)
    win = W.partitionBy("case_id", "side", "query_attr")
    mx = F.max("score_milli").over(win)
    e = F.exp((F.col("score_milli") - mx) / F.lit(1_000_000.0))
    return prefs.select(
        "case_id", "side", "query_attr", "candidate_attr",
        F.round(e / F.sum(e).over(win), 9).alias("softmax_score"),
    )


# -- §3.1 stages 5–7: prompt assembly -----------------------------------------

_PROMPT_ORACLE = _base_cte() + """
SELECT case_id, query_attr, prompt,
       len(string_split(prompt, ' ')) AS n_tokens
FROM (
  SELECT case_id, query_attr,
         'Match target ' || query_attr || ' (' || query_type || '). Options: '
           || string_agg('(' || chr(CAST(64 + rank AS INT)) || ') ' || candidate_attr, ' ' ORDER BY rank)
           || ' Answer:' AS prompt
  FROM ranked WHERE side = 'n_to_one'
  GROUP BY case_id, query_attr, query_type
)
"""


@query("q_prompt_assembly", _PROMPT_ORACLE)
def q_prompt_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MCQ prompt strings: ranked options lettered A.. (F13), schema intro
    (P1), token budget count (U4's whitespace proxy)."""
    prefs = preferences(spark).filter(F.col("side") == "n_to_one")
    part = F.concat(
        F.lit("("), F.char(F.col("rank") + 64), F.lit(") "), F.col("candidate_attr")
    )
    assembled = (
        prefs.withColumn("part", part)
        .groupBy("case_id", "query_attr", "query_type")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("rank"), F.col("part").alias("part")))
                    ),
                    lambda s: s["part"],
                ),
                " ",
            ).alias("options")
        )
    )
    prompt = F.concat(
        F.lit("Match target "), F.col("query_attr"), F.lit(" ("), F.col("query_type"),
        F.lit("). Options: "), F.col("options"), F.lit(" Answer:"),
    )
    return assembled.select(
        "case_id", "query_attr",
        prompt.alias("prompt"),
        token_count(prompt).alias("n_tokens"),
    )


# -- F12: chat-template prompt rendering --------------------------------------

_CHAT_SYSTEM = "You are a schema matching assistant. Answer with one option letter."

_CHAT_ORACLE = _base_cte() + f"""
SELECT case_id, query_attr,
       '<|im_start|>system' || chr(10) || '{_CHAT_SYSTEM}' || '<|im_end|>' || chr(10)
         || '<|im_start|>user' || chr(10) || question || '<|im_end|>' || chr(10)
         || '<|im_start|>assistant' || chr(10) AS chat_prompt,
       len(string_split('<|im_start|>system' || chr(10) || '{_CHAT_SYSTEM}' || '<|im_end|>' || chr(10)
         || '<|im_start|>user' || chr(10) || question || '<|im_end|>' || chr(10)
         || '<|im_start|>assistant' || chr(10), ' ')) AS n_tokens
FROM (
  SELECT case_id, query_attr,
         'Match target ' || query_attr || ' (' || query_type || '). Options: '
           || string_agg('(' || chr(CAST(64 + rank AS INT)) || ') ' || candidate_attr, ' ' ORDER BY rank)
           || ' Answer:' AS question
  FROM ranked WHERE side = 'n_to_one'
  GROUP BY case_id, query_attr, query_type
)
"""


@query("q_chat_prompt", _CHAT_ORACLE)
def q_chat_prompt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template prompt rendering (F12 real path): the MCQ question
    wrapped in the ChatML message format with ``add_generation_prompt``
    semantics — the reference's ``apply_chat_template`` flow
    (``PromptICLTemplate.py:86-95``) as a pure JVM concat (functions/chat.py);
    token budget via the whitespace proxy so the full prompt stays
    SQL-oracle-checkable."""
    from ..functions.chat import chat_prompt

    prefs = preferences(spark).filter(F.col("side") == "n_to_one")
    part = F.concat(
        F.lit("("), F.char(F.col("rank") + 64), F.lit(") "), F.col("candidate_attr")
    )
    assembled = (
        prefs.withColumn("part", part)
        .groupBy("case_id", "query_attr", "query_type")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("rank"), F.col("part").alias("part")))
                    ),
                    lambda s: s["part"],
                ),
                " ",
            ).alias("options")
        )
    )
    question = F.concat(
        F.lit("Match target "), F.col("query_attr"), F.lit(" ("), F.col("query_type"),
        F.lit("). Options: "), F.col("options"), F.lit(" Answer:"),
    )
    rendered = chat_prompt(F.lit(_CHAT_SYSTEM), question)
    return assembled.select(
        "case_id", "query_attr",
        rendered.alias("chat_prompt"),
        token_count(rendered).alias("n_tokens"),
    )


# -- F3 view-mode parsing (golden-output oracle) ------------------------------

VIEW_RESPONSES = [
    (_CASE1, "all", "```sql\nCREATE VIEW supplier (s_suppkey, s_name) AS SELECT c_custkey, c_name FROM source_table;\n```"),
    (_CASE1, "all", "CREATE VIEW supplier AS SELECT c_custkey AS s_suppkey, c_acctbal s_acctbal FROM customer;"),
    (_CASE1, "all", "CREATE VIEW supplier AS SELECT source_table.c_name, c_nationkey FROM customer;"),
    (_CASE1, "all", "no sql here"),
]

# hand-derived expected output (the verbose-regex parser is a Python UDF;
# the oracle pins its golden behavior rather than reimplementing the regex)
_VIEW_ORACLE = """
SELECT * FROM (VALUES
  ('tpch:CUSTOMER|tpch:SUPPLIER', 'all', 'c_custkey', 's_suppkey', NULL),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 'all', 'c_name', 's_name', NULL),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 'all', 'c_custkey', 's_suppkey', NULL),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 'all', 'c_acctbal', 's_acctbal', NULL),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 'all', 'c_name', 'c_name', NULL),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 'all', 'c_nationkey', 'c_nationkey', NULL),
  ('tpch:CUSTOMER|tpch:SUPPLIER', 'all', NULL, NULL, 'No CREATE VIEWs found')
) AS t(case_id, attr, pair_src, pair_tgt, parse_error)
"""


@query("q_parse_create_view", _VIEW_ORACLE)
def q_parse_create_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View-mode alignment extraction (eval_utils.py:76-160) through the
    mapInPandas parser; oracle = hand-derived golden rows."""
    from ..operators.view_parse import parse_views

    resp = local_df(spark, VIEW_RESPONSES, "case_id string, attr string, response string")
    return parse_views(resp)


# -- F3 TaDa yes/no/unknown parsing -------------------------------------------

TADA_RESPONSES = [
    (_CASE1, "s_name", '{"yes": ["c_name, s_name"], "no": ["c_acctbal, s_name"], "unknown": []}'),
    (_CASE1, "s_acctbal", "{'yes': ['c_acctbal, s_acctbal', 'c_custkey, s_acctbal'], 'no': [], 'unknown': ['c_name, s_acctbal']}"),
    (_CASE1, "s_nationkey", "nothing to extract"),
]

_TADA_ORACLE = f"""
WITH resp AS (SELECT * FROM {_values(TADA_RESPONSES, ['case_id', 'attr', 'response'])}),
blocks AS (
  SELECT case_id, attr,
         TRY_CAST(TRY_CAST(replace(regexp_extract(response,
             '(\\{{[^}}]*yes[^}}]*no[^}}]*\\}})', 1), '''', '"') AS JSON)
           ->'$.yes' AS VARCHAR[]) AS yes_pairs
  FROM resp
)
SELECT case_id, attr,
       lower(trim(string_split(p, ',')[1])) AS pair_src,
       lower(trim(string_split(p, ',')[2])) AS pair_tgt
FROM blocks, unnest(yes_pairs) AS u(p)
"""


@query("q_parse_tada_yes", _TADA_ORACLE)
def q_parse_tada_yes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TaDa-mode parsing (eval_utils.py:96-103,175-181): extract the
    {'yes': ...} block, quote-fix, keep the yes alignments."""
    from pyspark.sql import types as T

    resp = local_df(spark, TADA_RESPONSES, "case_id string, attr string, response string")
    block = F.regexp_extract("response", r"(\{[^}]*yes[^}]*no[^}]*\})", 1)
    schema = T.StructType([T.StructField("yes", T.ArrayType(T.StringType()))])
    parsed = resp.withColumn(
        "yes_pairs", F.from_json(F.regexp_replace(block, "'", '"'), schema)["yes"]
    ).filter(F.col("yes_pairs").isNotNull())
    split = F.split(F.col("__p"), ",")
    return (
        parsed.withColumn("__p", F.explode("yes_pairs"))
        .withColumn("pair_src", F.lower(F.trim(split[0])))
        .withColumn("pair_tgt", F.lower(F.trim(split[1])))
        .select("case_id", "attr", "pair_src", "pair_tgt")
    )


# -- SO3: ensemble disjoint ---------------------------------------------------

from .matching import _runs_cte as __runs_cte  # noqa: E402

_DISJOINT_ORACLE = __runs_cte() + f"""
SELECT case_id, src, tgt FROM (SELECT DISTINCT case_id, src, tgt FROM runs)
EXCEPT
SELECT case_id, src, tgt FROM (
  SELECT case_id, src, tgt, COUNT(*) AS n
  FROM (SELECT DISTINCT seed, case_id, src, tgt FROM runs)
  GROUP BY case_id, src, tgt
) WHERE n = {len(ENSEMBLE_SEEDS)}
"""


@query("q_ensemble_disjoint", _DISJOINT_ORACLE)
def q_ensemble_disjoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO3 (eval_ensemble.py:41-51): union − intersection across seed runs."""
    from ..operators.ensembles import ensemble_disjoint
    from .matching import _spark_runs

    return ensemble_disjoint(_spark_runs(spark), len(ENSEMBLE_SEEDS))


# -- §3.1 stage 4: prompts with sampled instance data -------------------------

_SAMPLED_PROMPT_ORACLE = """
WITH samples AS (
  SELECT val, sample_rank FROM (
    SELECT CAST(c_name AS VARCHAR) AS val,
           ROW_NUMBER() OVER (ORDER BY md5('11:' || c_custkey)) AS sample_rank
    FROM customer
  ) WHERE sample_rank <= 3
)
SELECT 'tpch:CUSTOMER|tpch:SUPPLIER' AS case_id, 'c_name' AS col_name,
       'Column c_name examples: ' || string_agg(val, ', ' ORDER BY sample_rank) AS col_prompt
FROM samples
"""


@query("q_prompt_with_samples", _SAMPLED_PROMPT_ORACLE)
def q_prompt_with_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instance-data sampling into prompt text (§3.1 stage 4,
    InstanceDataHandler samplers feeding PromptReprTemplate): seeded sample
    of real column values, folded into the per-column prompt fragment."""
    from ..operators.sampling import random_sample

    cust = load_table(spark, sf_dir, "customer")
    sampled = random_sample(cust, 3, 11, ["c_custkey"]).select(
        F.col("c_name").cast("string").alias("val"), "sample_rank"
    )
    frag = F.concat(
        F.lit("Column c_name examples: "),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sample_rank", F.col("val").alias("val")))),
                lambda s: s["val"],
            ),
            ", ",
        ),
    )
    return sampled.agg(
        F.lit(_CASE1).alias("case_id"),
        F.lit("c_name").alias("col_name"),
        frag.alias("col_prompt"),
    )


# -- W2 sweep + A5: metrics per k ---------------------------------------------

from .matching import _base_cte as __base_cte  # noqa: E402

_SWEEP_ORACLE = __base_cte() + f""",
gold AS (SELECT * FROM {gold_values_sql()}),
ranked_merge AS (
  SELECT case_id, src, tgt,
         ROW_NUMBER() OVER (PARTITION BY case_id, tgt
                            ORDER BY (fwd_milli + bwd_milli) / 2000000.0 DESC, src ASC, tgt ASC) AS rank
  FROM merged WHERE (fwd_milli + bwd_milli) / 2000000.0 <> 0
),
ks AS (SELECT unnest(range(1, 4)) AS k),
counts AS (
  SELECT k,
         CAST(SUM(CASE WHEN g.src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN g.src IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS fp
  FROM ranked_merge r CROSS JOIN ks
  LEFT JOIN gold g ON g.case_id = r.case_id AND g.src = r.src AND g.tgt = r.tgt
  WHERE r.rank <= k
  GROUP BY k
),
gold_total AS (SELECT COUNT(*) AS n_gold FROM gold)
SELECT k, tp, fp, n_gold - tp AS fn,
       tp / (tp + fp) AS precision,
       tp / n_gold AS recall
FROM counts CROSS JOIN gold_total
"""


@query("q_topk_sweep", _SWEEP_ORACLE)
def q_topk_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k sweep (eval_MatchMaker.py:386-398 / ask_StableMatcher k=1..5):
    corpus-level TP/FP/FN + P/R per k, computed in one pass over the ranked
    alignments crossed with the k dimension."""
    from ..operators.candidates import bidirectional_merge, top_k_per_query

    merged = bidirectional_merge(preferences(spark), agg="avg")
    ranked = top_k_per_query(merged, 3)  # rank <= max k
    ks = spark.range(1, 4).select(F.col("id").cast("int").alias("k"))
    gold = gold_alignments_df(spark)
    n_gold = gold.count()
    hits = ranked.join(
        gold.withColumn("__hit", F.lit(1)), ["case_id", "src", "tgt"], "left"
    )
    return (
        hits.crossJoin(F.broadcast(ks))
        .filter(F.col("rank") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("__hit").isNotNull(), 1).otherwise(0)).alias("tp"),
            F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0)).alias("fp"),
        )
        .select(
            "k", "tp", "fp",
            (F.lit(n_gold) - F.col("tp")).alias("fn"),
            (F.col("tp") / (F.col("tp") + F.col("fp"))).alias("precision"),
            (F.col("tp") / F.lit(n_gold)).alias("recall"),
        )
    )


# -- W5: MatchMaker demo selection (rating >= 4) -------------------------------
# Reference semantics (eval/eval_MatchMaker.py:173-208): for every predicted
# mapping's evaluation string, get_last_char_as_int takes the string's LAST
# character as the rating (empty or non-digit -> dropped; the reference's
# `rate <= 5 or rate >= 0` guard is vacuously true, so any digit 0-9 counts),
# and get_demo keeps entries rated >= 4 as few-shot demonstrations, emitting
# (idx, id, attr, seed, rating).

DEMO_EVALS = [
    (0, "case_a", "o_orderdate", 7, "The mapping is clearly correct. Rating: 5"),
    (0, "case_a", "o_totalprice", 7, "Partial semantic match, rating 3"),
    (1, "case_b", "c_name", 7, "Exact name-to-name correspondence: 4"),
    (1, "case_b", "c_acctbal", 7, "I cannot rate this one."),
    (1, "case_b", "c_phone", 7, "Formats differ but compatible 4"),
    (2, "case_c", "s_address", 7, ""),
    (2, "case_c", "s_comment", 7, "Weak evidence. 2"),
    (3, "case_d", "p_brand", 13, "Brand-level match; confidence high. 5"),
    (3, "case_d", "p_size", 13, "Size units disagree -> 1"),
    (3, "case_d", "p_type", 13, "Type vocabularies align well: 9"),
]


def _demo_values_sql() -> str:
    body = ",\n  ".join(
        f"({i}, '{c}', '{a}', {s}, '{t}')" for i, c, a, s, t in DEMO_EVALS
    )
    return f"(VALUES\n  {body}) AS t(idx, case_id, attr, seed, resp_text)"


_DEMO_ORACLE = f"""
WITH resp AS (SELECT * FROM {_demo_values_sql()}),
rated AS (
  SELECT idx, case_id, attr, seed,
         CAST(right(resp_text, 1) AS INT) AS rating
  FROM resp
  WHERE regexp_matches(right(resp_text, 1), '^[0-9]$')
)
SELECT idx, case_id, attr, seed, rating,
       ROW_NUMBER() OVER (PARTITION BY seed ORDER BY idx, attr) AS demo_rank
FROM rated WHERE rating >= 4
"""


@query("q_demo_rating", _DEMO_ORACLE)
def q_demo_rating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 demo ranking (eval_MatchMaker.py:188-208): last-character rating
    extraction (empty/non-digit evaluations dropped), keep rating >= 4,
    deterministic per-seed demo order by (idx, attr)."""
    resp = local_df(spark, 
        DEMO_EVALS, "idx int, case_id string, attr string, seed int, resp_text string"
    )
    last = F.substring("resp_text", -1, 1)
    rated = (
        resp.withColumn("_last", last)
        .filter(F.col("_last").rlike("^[0-9]$"))
        .withColumn("rating", F.col("_last").cast("int"))
        .drop("_last")
        .filter(F.col("rating") >= 4)
    )
    win = W.partitionBy("seed").orderBy("idx", "attr")
    return rated.withColumn("demo_rank", F.row_number().over(win)).select(
        "idx", "case_id", "attr", "seed", "rating", "demo_rank"
    )
