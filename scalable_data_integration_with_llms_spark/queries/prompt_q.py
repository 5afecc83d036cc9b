"""Prompt repr-template catalog queries (round 5; the reference's active
repr classes — ``prompt_builder.py:30-62`` — as distributed string assembly).

Each query produces one prompt string per (repr, case, target attribute),
assembled with pure JVM expressions: per-attribute option lists ride a
sorted ``collect_list`` (bounded by schema width, never corpus size), case
dimensions broadcast, the chat render is a single ``concat`` inside
whole-stage codegen.  At 100 TB of cases this is one hash aggregation per
repr family plus broadcast joins — no skewable shuffle, no Python.

Oracle strategy: the sequential golden renderer
(``functions/prompt_repr.py``) re-implements each template the way the
reference does (str.format, ``chr(65+idx)``, ``str(dict)`` JSON-ification)
and its output is embedded as a VALUES relation — the distributed assembly
is byte-compared against an independent sequential twin, the
``q_chat_prompt`` / ``q_bibtex_import`` exact-string precedent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog.cases import MATCHING_CASES, case_catalog_df, cases_values_sql
from ..functions import prompt_repr as PR
from ..functions.chat import chat_prompt
from ..functions.determinism import TWO_60_SQL, hash60_sql
from ..functions.text import token_count
from ..operators.candidates import NO_MATCH
from .matching import _base_cte, preferences
from .registry import query

_DATASET = "tpch"  # fixture dataset key for MM_SCHEMA_NAME

# ---------------------------------------------------------------------------
# MatchMaker response fixtures (prior-stage LLM outputs, FIXTURES-style
# module constants; rendered to VALUES for the oracle like reference_ops.py)
# ---------------------------------------------------------------------------

_CASE1 = "tpch:CUSTOMER|tpch:SUPPLIER"

# ConfidenceScoring (MMConfidence) inputs: raw text with an (A)... block
# (options = everything from the first "(A)" to the next, MatchMaker.py:233-236)
MM_SCORE_RESPONSES = [
    (_CASE1, "s_name", 0,
     "Here are the options:\n(A)tpch:CUSTOMER-c_name(varchar(25))\n(B)tpch:CUSTOMER-c_acctbal(double)\n(C)No Match."),
    (_CASE1, "s_acctbal", 1, "(A)tpch:CUSTOMER-c_acctbal(double)\n(B)No Match."),
    (_CASE1, "s_nationkey", 2, "no options block at all"),  # skipped
]

# ConfidenceScoring2 (MMConfidence2) inputs: refined lists validated against
# the formatted source option universe (eval_utils.py:25-48) — one valid
# marker row, one valid bare-bracket row, one out-of-universe, one >5 cap,
# one unparseable
MM2_RESPONSES = [
    (_CASE1, "s_name", 0,
     "Refined String List: ['tpch:CUSTOMER-c_name(varchar(25))', 'tpch:CUSTOMER-c_acctbal(double)']"),
    (_CASE1, "s_acctbal", 1, "['tpch:CUSTOMER-c_acctbal(double)']"),
    (_CASE1, "s_nationkey", 2, "Refined String List: ['c_nationkey']"),
    (_CASE1, "s_suppkey", 3,
     "Refined String List: ['tpch:CUSTOMER-c_custkey(bigint)', 'tpch:CUSTOMER-c_name(varchar(25))', "
     "'tpch:CUSTOMER-c_nationkey(integer)', 'tpch:CUSTOMER-c_acctbal(double)', "
     "'tpch:CUSTOMER-c_mktsegment(varchar(10))', 'tpch:CUSTOMER-c_custkey(bigint)']"),
    (_CASE1, "s_name", 4, "Refined String List: oops no list"),
]

# MCQ_Formatter inputs: reuse the refined-list parser fixtures
from .reference_ops import REFINED_RESPONSES  # noqa: E402
from ..functions.localframe import local_df

_EVAL_TOP_N = 3  # Evaluator's predicted_mapping depth (top-k ranked candidates)


# ---------------------------------------------------------------------------
# golden rows (sequential renderer output; embedded as the oracle)
# ---------------------------------------------------------------------------


def _cases() -> list[tuple[str, str, list, str, list]]:
    out = []
    for case_id, (src_cols, tgt_cols, _gold) in MATCHING_CASES.items():
        srel, trel = case_id.split("|")
        src = [(n.lower(), t) for n, t in src_cols]
        tgt = [(n.lower(), t) for n, t in tgt_cols]
        out.append((case_id, srel, src, trel, tgt))
    return out


def _golden_scoring() -> list[tuple[str, str, str, str]]:
    rows = []
    for case_id, _srel, src, _trel, tgt in _cases():
        for attr, atype in tgt:
            cands = PR.ranked_candidates(attr, atype, src)
            rows.append(
                ("ConfidenceScore", case_id, attr,
                 PR.render_confidence_scoring(attr, atype, cands))
            )
            rows.append(
                ("LogitsConfidenceScoringPrompt", case_id, attr,
                 PR.render_logits_confidence(attr, atype, cands))
            )
    return rows


def _golden_n2one() -> list[tuple[str, str, str, str]]:
    rows = []
    for case_id, srel, src, trel, tgt in _cases():
        for attr, atype in tgt:
            rows.append(
                ("N2One_Json", case_id, attr,
                 PR.render_n2one_json(srel, src, trel, attr, atype))
            )
            rows.append(
                ("CoTLogitsPrompt", case_id, attr,
                 PR.render_cot_logits(srel, src, trel, attr, atype))
            )
    return rows


def _golden_tada() -> list[tuple[str, str, str]]:
    return [
        (case_id, attr, PR.render_tada(srel, src, trel, attr, atype))
        for case_id, srel, src, trel, tgt in _cases()
        for attr, atype in tgt
    ]


def _golden_mm() -> list[tuple[str, str, str, int, str]]:
    rows = []
    by_case = {c[0]: c for c in _cases()}
    for case_id, srel, src, trel, tgt in _cases():
        for attr, atype in tgt:
            rows.append(
                ("MMCandidate", case_id, attr, -1,
                 PR.render_mm_refiner(srel, src, trel, attr, atype, _DATASET))
            )
            answers = [n for n, _t in PR.ranked_candidates(attr, atype, src)[:_EVAL_TOP_N]]
            p = PR.render_mm_evaluator(trel, attr, answers)
            if p is not None:
                rows.append(("MM_Evaluator", case_id, attr, -1, p))
    for case_id, attr, idx, text in REFINED_RESPONSES_IDX:
        p = PR.render_mm_mcq_formatter(text)
        if p is not None:
            rows.append(("MM_MCQ_Formatter", case_id, attr, idx, p))
    for case_id, attr, idx, text in MM_SCORE_RESPONSES:
        _c, _s, src, trel, tgt = by_case[case_id]
        atype = dict(tgt)[attr]
        p = PR.render_mm_confidence(trel, attr, atype, text)
        if p is not None:
            rows.append(("MMConfidence", case_id, attr, idx, p))
    for case_id, attr, idx, text in MM2_RESPONSES:
        _c, srel, src, trel, tgt = by_case[case_id]
        atype = dict(tgt)[attr]
        p = PR.render_mm_confidence2(srel, src, trel, attr, atype, text)
        if p is not None:
            rows.append(("MMConfidence2", case_id, attr, idx, p))
    return rows


def _golden_tokens() -> list[tuple[str, str, int, int]]:
    """BasicICLPrompt.format's prompt_tokens: per (repr, case) prompt count
    and summed whitespace tokens (token_count proxy, both engines)."""
    per: dict[tuple[str, str], list[str]] = {}
    for repr_type, case_id, _attr, prompt in _golden_scoring() + _golden_n2one():
        per.setdefault((repr_type, case_id), []).append(prompt)
    for case_id, _attr, prompt in _golden_tada():
        per.setdefault(("TaDa", case_id), []).append(prompt)
    return [
        (rt, cid, len(ps), sum(len(p.split(" ")) for p in ps))
        for (rt, cid), ps in sorted(per.items())
    ]


from ..functions.sql_text import sql_lit as _sql_lit


def _values_oracle(rows: list[tuple], cols: list[str]) -> str:
    body = ",\n".join("(" + ", ".join(_sql_lit(v) for v in r) + ")" for r in rows)
    return f"SELECT * FROM (VALUES\n{body}) AS t({', '.join(cols)})"


# REFINED_RESPONSES with a stable per-row index (the reference keys
# predicted_mapping by attribute; a frame needs an explicit row identity)
REFINED_RESPONSES_IDX = [
    (case_id, attr, i, text) for i, (case_id, attr, text) in enumerate(REFINED_RESPONSES)
]


# ---------------------------------------------------------------------------
# Spark-side shared building blocks
# ---------------------------------------------------------------------------


def _rel_cols(case_id_col: F.Column) -> tuple[F.Column, F.Column]:
    parts = F.split(case_id_col, "\\|")
    return F.element_at(parts, 1), F.element_at(parts, 2)


def _target_attrs(spark: SparkSession) -> DataFrame:
    """(case_id, query_attr, query_type, src_rel, tgt_rel) — one row per
    target attribute."""
    cat = case_catalog_df(spark).filter(F.col("side") == "target")
    srel, trel = _rel_cols(F.col("case_id"))
    return cat.select(
        "case_id",
        F.col("col_name").alias("query_attr"),
        F.col("col_type").alias("query_type"),
        srel.alias("src_rel"),
        trel.alias("tgt_rel"),
    )


def _sorted_source_agg(spark: SparkSession, part: F.Column) -> DataFrame:
    """Per-case array of ``part`` rendered per source column, in declared
    column order: (case_id, parts array)."""
    cat = case_catalog_df(spark).filter(F.col("side") == "source")
    return (
        cat.withColumn("part", part)
        .groupBy("case_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("col_idx"), F.col("part").alias("p")))
                ),
                lambda s: s["p"],
            ).alias("parts")
        )
    )


def _ranked_options(spark: SparkSession) -> DataFrame:
    """Per (case, target attr): candidate ``name(type)`` strings in rank
    order (the engine's canonical candidate list)."""
    prefs = preferences(spark).filter(
        (F.col("side") == "n_to_one") & (F.col("candidate_attr") != NO_MATCH)
    )
    opt = F.concat(
        F.col("candidate_attr"), F.lit("("), F.col("candidate_type"), F.lit(")")
    )
    return (
        prefs.withColumn("opt", opt)
        .groupBy("case_id", "query_attr", "query_type")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("rank"), F.col("opt").alias("o")))
                ),
                lambda s: s["o"],
            ).alias("opts")
        )
    )


def _lettered(arr: F.Column, sep: str, fmt) -> F.Column:
    """Join ``fmt(letter_or_index, element)`` lines with ``sep``."""
    return F.array_join(F.transform(arr, fmt), sep)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

_SCORING_ORACLE = _values_oracle(
    _golden_scoring(), ["repr_type", "case_id", "query_attr", "prompt"]
)


@query("q_repr_scoring_prompts", _SCORING_ORACLE)
def q_repr_scoring_prompts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ConfidenceScoringPrompt + LogitsConfidenceScoringPrompt, k=0
    (PromptReprTemplate.py:18-119,460-566 via BasicScoringPrompt,
    PromptICLTemplate.py:61-95): lettered / numbered MCQ options over the
    ranked candidate list, chat-wrapped.  One hash agg over the preference
    frame; everything else is codegen'd concat."""
    opts = _ranked_options(spark)
    query_str = F.concat(F.col("query_attr"), F.lit("("), F.col("query_type"), F.lit(")"))

    conf_opts = F.concat(
        _lettered(
            F.col("opts"), "\n",
            lambda x, i: F.concat(F.char(i + 65), F.lit("-"), x),
        ),
        F.lit("\n"),
        F.char(F.size("opts") + 65),
        F.lit("-None of the options"),
    )
    conf_mcq = F.concat(
        F.lit("MCQ schema options:\n"), conf_opts,
        F.lit("\n\ninput query:\n"), query_str, F.lit("\n\n"),
    )
    conf_q = F.concat(F.lit(PR.CONFIDENCE_INSTRUCTIONS + "\n\n"), conf_mcq)
    conf = opts.select(
        F.lit("ConfidenceScore").alias("repr_type"),
        "case_id",
        "query_attr",
        chat_prompt(PR.CONFIDENCE_SYSTEM, conf_q).alias("prompt"),
    )

    logit_opts = _lettered(
        F.col("opts"), "\n",
        lambda x, i: F.concat((i + 1).cast("string"), F.lit(". "), x),
    )
    logit_mcq = F.concat(
        F.lit("Question: Target attributes:\n"), logit_opts,
        F.lit("\n\ninput query:\n"), query_str, F.lit("\n\nAnswer: "),
    )
    logit_q = F.concat(F.lit(PR.ATTR_TEMPLATE_DESC + "\n" + "\n\n"), logit_mcq)
    logits = opts.select(
        F.lit("LogitsConfidenceScoringPrompt").alias("repr_type"),
        "case_id",
        "query_attr",
        chat_prompt(PR.LOGITS_SYSTEM, logit_q).alias("prompt"),
    )
    return conf.unionByName(logits)


_N2ONE_ORACLE = _values_oracle(
    _golden_n2one(), ["repr_type", "case_id", "query_attr", "prompt"]
)


@query("q_repr_n2one_prompts", _N2ONE_ORACLE)
def q_repr_n2one_prompts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2One_Json + CoTLogitsPrompt, k=0, reasoning=False
    (PromptReprTemplate.py:291-451): the str(dict)-style schema JSON built
    as ordered string aggregation, per-attribute instruction text, chat
    wrap, and N2One's ``{ "matches": [`` answer prefix."""
    src_json = _sorted_source_agg(
        spark,
        F.concat(
            F.lit('{"name": "'), F.col("col_name"),
            F.lit('", "type": "'), F.col("col_type"), F.lit('"}'),
        ),
    ).select(
        "case_id",
        F.concat(
            F.lit('{"relation name": "'),
            _rel_cols(F.col("case_id"))[0],
            F.lit('", "columns": ['),
            F.array_join("parts", ", "),
            F.lit("]}"),
        ).alias("source_desc"),
    )
    rows = _target_attrs(spark).join(F.broadcast(src_json), "case_id")

    target_desc = F.concat(
        F.lit('{"relation name": "'), F.col("tgt_rel"),
        F.lit('", "column": {"name": "'), F.col("query_attr"),
        F.lit('", "type": "'), F.col("query_type"), F.lit('"}}'),
    )
    st_desc = F.concat(
        F.lit("The information about the relation from the source schema is as follows:\n\n"),
        F.col("source_desc"),
        F.lit("\n\nThe information about the relation from the target schema is as follows:\n\n"),
        target_desc,
        F.lit("\n\n"),
    )

    n2one_instr = F.concat(
        F.lit("Identify which of the source attributes semantically match to "),
        F.col("query_attr"), F.lit(" from "), F.col("tgt_rel"), F.lit("."),
        F.lit('Format your output like this: `{"matches": ["<source attribute>,'),
        F.col("query_attr"), F.lit('"'), F.lit(", ...]}`. "),
        F.lit("Do not mention an attribute if there is not enough information to decide. "),
        F.lit('If there is no source attribute matching the target attribute, return "None,'),
        F.col("query_attr"), F.lit('". '),
        F.lit("Do not include any explanation."),
    )
    cot_instr = F.concat(
        F.lit("Identify which one of the source attributes semantically best match to "),
        F.col("query_attr"), F.lit(" from "), F.col("tgt_rel"), F.lit("."),
        F.lit("Give a final decision formatted like `Best Match:<target attribute>`"),
        F.lit("If there is no source attribute matching the target attribute, return `Best Match:None`. "),
        F.lit("Do not include any explanation."),
    )

    n2one = rows.select(
        F.lit("N2One_Json").alias("repr_type"),
        "case_id",
        "query_attr",
        F.concat(
            chat_prompt(PR.N2ONE_SYSTEM, F.concat(st_desc, F.lit("\n\n"), n2one_instr)),
            F.lit("\n" + PR.N2ONE_ANSWER_PREFIX),
        ).alias("prompt"),
    )
    cot = rows.select(
        F.lit("CoTLogitsPrompt").alias("repr_type"),
        "case_id",
        "query_attr",
        chat_prompt(PR.N2ONE_SYSTEM, F.concat(st_desc, F.lit("\n\n"), cot_instr)).alias("prompt"),
    )
    return n2one.unionByName(cot)


_TADA_ORACLE = _values_oracle(_golden_tada(), ["case_id", "query_attr", "prompt"])


@query("q_repr_tada_prompts", _TADA_ORACLE)
def q_repr_tada_prompts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TaDa, k=0 (PromptReprTemplate.py:123-207 + BaselinePrompt
    PromptICLTemplate.py:27-37): relation/attribute description blocks,
    PLAIN system+intro concatenation — the one un-chat-wrapped template."""
    attr_block = F.concat(
        F.lit("Attribute name: "), F.col("col_name"),
        F.lit("\nAttribute description: values of "), F.col("col_name"),
        F.lit(" ("), F.col("col_type"), F.lit(")\n"),
    )
    src_desc = _sorted_source_agg(spark, attr_block).select(
        "case_id",
        F.concat(
            F.lit("Relation name: "),
            _rel_cols(F.col("case_id"))[0],
            F.lit("\n\nIn the following, I will list all attributes of "),
            _rel_cols(F.col("case_id"))[0],
            F.lit(".\n\n"),
            F.array_join("parts", "\n"),
        ).alias("source_desc"),
    )
    rows = _target_attrs(spark).join(F.broadcast(src_desc), "case_id")

    target_desc = F.concat(
        F.lit("Relation name: "), F.col("tgt_rel"),
        F.lit("\n\nAttribute name: "), F.col("query_attr"),
        F.lit("\nAttribute description: values of "), F.col("query_attr"),
        F.lit(" ("), F.col("query_type"), F.lit(")\n"),
    )
    st_desc = F.concat(
        F.lit("The relation from the source schema is the following:\n\n"),
        F.col("source_desc"),
        F.lit("\n\nThe attribute from the target schema is the following:\n\n"),
        target_desc,
        F.lit("\n\n"),
    )
    task = F.concat(
        F.lit("Explain which of the source attributes semantically match to "),
        F.col("query_attr"), F.lit(" from "), F.col("tgt_rel"),
        F.lit(" of the target schema. Lets work this out step by step to make "
              "sure we get it correct. After your explanation, give a final "
              "decision JSON-formatted like this: " + PR.TADA_JSON_FORMAT
              + ". Under each of the following keys, list all target attributes of "),
        F.col("tgt_rel"),
        F.lit(" that apply: yes - if there is an invertible function that maps "
              "all values of the source attribute to the target attribute; no "
              "- if there is no such function. unknown - if there is not "
              "enough information to decide"),
    )
    return rows.select(
        "case_id",
        "query_attr",
        F.concat(
            F.lit(PR.TADA_SYSTEM + "\n\n"), st_desc, F.lit("\n\n"), task
        ).alias("prompt"),
    )


_MM_ORACLE = _values_oracle(
    _golden_mm(), ["repr_type", "case_id", "query_attr", "resp_idx", "prompt"]
)


@query("q_mm_prompts", _MM_ORACLE)
def q_mm_prompts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MatchMaker prompt family (MatchMaker.py): CandidateRefiner,
    Evaluator (over the ranked top-k), MCQ_Formatter / MMConfidence /
    MMConfidence2 (over prior-stage response fixtures, with the reference's
    skip semantics for rows that fail extraction/validation)."""
    from ..operators.validation import validate_mcq_list

    tgt = _target_attrs(spark)
    no_resp = F.lit(-1).alias("resp_idx")

    # -- CandidateRefiner: all source columns, python-list-repr'd ---------
    mm_opt_part = F.concat(
        _rel_cols(F.col("case_id"))[0], F.lit("-"),
        F.col("col_name"), F.lit("("), F.col("col_type"), F.lit(")"),
    )
    src_opts = _sorted_source_agg(spark, mm_opt_part).select(
        "case_id",
        F.concat(
            F.lit("['"), F.array_join("parts", "', '"), F.lit("']")
        ).alias("candidates_repr"),
    )
    refiner_sys = PR.MM_REFINER_SYSTEM_TMPL.format(
        schema_name=PR.MM_SCHEMA_NAME[_DATASET]
    )
    refiner_user = F.concat(
        F.lit("Input Schema:\n"), F.col("candidates_repr"),
        F.lit("\nInput Query:\n"),
        F.col("tgt_rel"), F.lit("-"), F.col("query_attr"),
        F.lit("("), F.col("query_type"), F.lit(")"),
        F.lit("\nReasoning: Let’s think step by step in order to"),
    )
    refiner = tgt.join(F.broadcast(src_opts), "case_id").select(
        F.lit("MMCandidate").alias("repr_type"), "case_id", "query_attr",
        no_resp, chat_prompt(refiner_sys, refiner_user).alias("prompt"),
    )

    # -- Evaluator: top-k ranked candidate names as the answers list ------
    # top-k among the REAL candidates: the rank column numbers the no-match
    # sentinel too, so slice the rank-sorted candidate array instead of
    # filtering on rank (a sentinel inside the top-k would shorten the list)
    prefs = preferences(spark).filter(
        (F.col("side") == "n_to_one") & (F.col("candidate_attr") != NO_MATCH)
    )
    answers = prefs.groupBy("case_id", "query_attr").agg(
        F.concat(
            F.lit("['"),
            F.array_join(
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col("rank"), F.col("candidate_attr").alias("c"))
                            )
                        ),
                        lambda s: s["c"],
                    ),
                    1,
                    _EVAL_TOP_N,
                ),
                "', '",
            ),
            F.lit("']"),
        ).alias("answers_repr")
    )
    eval_user = F.concat(
        F.lit("Query: "), F.col("tgt_rel"), F.lit("-"), F.col("query_attr"),
        F.lit("\nAnswers: "), F.col("answers_repr"),
        F.lit("\nReasoning: Let’s think step by step in order to "),
    )
    evaluator = tgt.join(answers, ["case_id", "query_attr"]).select(
        F.lit("MM_Evaluator").alias("repr_type"), "case_id", "query_attr",
        no_resp, chat_prompt(PR.MM_EVALUATOR_SYSTEM, eval_user).alias("prompt"),
    )

    # -- MCQ_Formatter: refined-list responses with the marker ------------
    refined = local_df(spark, 
        REFINED_RESPONSES_IDX, "case_id string, query_attr string, resp_idx int, response string"
    )
    fmt_user = F.concat(
        F.lit("Input : "),
        F.element_at(F.split(F.col("response"), "Refined String List:"), 2),
        F.lit(" Mcq: "),
    )
    formatter = refined.filter(F.col("response").contains("Refined String List:")).select(
        F.lit("MM_MCQ_Formatter").alias("repr_type"), "case_id", "query_attr",
        "resp_idx", chat_prompt(PR.MM_MCQ_FORMATTER_SYSTEM, fmt_user).alias("prompt"),
    )

    # -- MMConfidence: options = prior output from its first "(A)" --------
    scores = local_df(spark, 
        MM_SCORE_RESPONSES, "case_id string, query_attr string, resp_idx int, response string"
    ).join(tgt, ["case_id", "query_attr"])
    conf_user = F.concat(
        F.lit("Input Mcq:\n(A)"),
        F.element_at(F.split(F.col("response"), "\\(A\\)"), 2),
        F.lit("\nInput Query:\n"),
        F.col("tgt_rel"), F.lit("-"), F.col("query_attr"),
        F.lit("("), F.col("query_type"), F.lit(")"),
        F.lit("Relation:\n"),
    )
    mm_conf = scores.filter(F.col("response").contains("(A)")).select(
        F.lit("MMConfidence").alias("repr_type"), "case_id", "query_attr",
        "resp_idx", chat_prompt(PR.MM_CONFIDENCE_SYSTEM, conf_user).alias("prompt"),
    )

    # -- MMConfidence2: validate refined list vs formatted option universe,
    #    letter the survivors, append "No Match." -------------------------
    mm2 = local_df(spark, 
        MM2_RESPONSES, "case_id string, query_attr string, resp_idx int, response string"
    )
    universe = (
        case_catalog_df(spark)
        .filter(F.col("side") == "source")
        .select("case_id", mm_opt_part.alias("option"))
    )
    validated = validate_mcq_list(mm2, universe).filter(F.col("accepted") == 1)
    lettered = F.concat(
        F.array_join(
            F.transform(
                F.col("candidates"),
                lambda x, i: F.concat(F.lit("("), F.char(i + 65), F.lit(")"), x),
            ),
            "\n",
        ),
        F.lit("\n("), F.char(F.size("candidates") + 65), F.lit(")No Match."),
    )
    mm2_user = F.concat(
        F.lit("Input Mcq:\n"), lettered,
        F.lit("\nInput Query:\n"),
        F.col("tgt_rel"), F.lit("-"), F.col("query_attr"),
        F.lit("("), F.col("query_type"), F.lit(")"),
        F.lit("Relation:\n"),
    )
    mm_conf2 = validated.join(tgt, ["case_id", "query_attr"]).select(
        F.lit("MMConfidence2").alias("repr_type"), "case_id", "query_attr",
        "resp_idx", chat_prompt(PR.MM_CONFIDENCE_SYSTEM, mm2_user).alias("prompt"),
    )

    return (
        refiner.unionByName(evaluator)
        .unionByName(formatter)
        .unionByName(mm_conf)
        .unionByName(mm_conf2)
    )


# ---------------------------------------------------------------------------
# k-shot ICL render (the prompt_factory k>0 branch)
# ---------------------------------------------------------------------------

# (k, max_seq_len) configs: the generous budget packs the full k shots; the
# tight one truncates every target to a single shot, so the budget rule is
# exercised by the oracle (reference runs use "...-1024"-style max_seq_len
# configs, PromptICLTemplate.py:195-219)
ICL_CONFIGS = [(2, 1024), (2, 190)]
_ICL_MAX_ANS_LEN = 50
_ICL_SHOT_TOP_N = 2  # demo answers: top-2 ranked candidate names


def _demo_pool() -> list[tuple[str, str, str, str]]:
    """(demo_case_id, demo_attr, ex_user, ex_answer) for every (case,
    target attr) — the MMSelector demo universe (ExampleSelectorTemplate.py:
    34-64): example user = that case's CandidateRefiner prompt, example
    answer = its refined-list trace, mocked from the ranked candidates."""
    pool = []
    for case_id, srel, src, trel, tgt in _cases():
        for attr, atype in tgt:
            user = PR.mm_refiner_user(srel, src, trel, attr, atype)
            top = [n for n, _t in PR.ranked_candidates(attr, atype, src)[:_ICL_SHOT_TOP_N]]
            pool.append((case_id, attr, user, f"Refined String List: {top!r}"))
    return sorted(pool)


def _golden_icl() -> list[tuple[str, int, str, str, int, str]]:
    rows = []
    system = PR.MM_REFINER_SYSTEM_TMPL.format(schema_name=PR.MM_SCHEMA_NAME[_DATASET])
    pool = _demo_pool()
    for k, max_seq in ICL_CONFIGS:
        for case_id, srel, src, trel, tgt in _cases():
            demos = [(u, a) for c, _attr, u, a in pool if c != case_id]
            for attr, atype in tgt:
                target_user = PR.mm_refiner_user(srel, src, trel, attr, atype)
                n, prompt = PR.render_icl_prompt(
                    system, target_user, demos, k, max_seq, _ICL_MAX_ANS_LEN
                )
                rows.append((f"k{k}_seq{max_seq}", max_seq, case_id, attr, n, prompt))
    return rows


_ICL_ORACLE = _values_oracle(
    _golden_icl(),
    ["config", "max_seq_len", "case_id", "query_attr", "n_examples", "prompt"],
)


@query("q_icl_prompt_render", _ICL_ORACLE)
def q_icl_prompt_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-shot ICL prompt render — the ``prompt_factory`` k>0 branch
    (prompt_builder.py:115-132 + PromptICLTemplate.py:117-219): MMSelector
    demo pairs, the reference's skip-and-continue token-budget packing, and
    the multi-message chat render with generation header.

    The packing loop is SEQUENTIAL per target attribute but independent
    across attributes, so it runs as a per-row ``F.aggregate`` fold over
    the collected demo array — exact greedy semantics entirely inside
    Catalyst (no Python, no window, no iteration driver-side).  Each target
    attr is one row; at a 100 TB case corpus this is one demo-pool
    broadcast + one map stage."""
    system = PR.MM_REFINER_SYSTEM_TMPL.format(schema_name=PR.MM_SCHEMA_NAME[_DATASET])

    # demo pool (small dimension -> broadcast); same rows as _demo_pool()
    pool = local_df(spark, 
        _demo_pool(), "demo_case string, demo_attr string, ex_user string, ex_answer string"
    )
    # target users: the refiner user message per (case, attr), built
    # distributively exactly as q_mm_prompts does
    mm_opt_part = F.concat(
        _rel_cols(F.col("case_id"))[0], F.lit("-"),
        F.col("col_name"), F.lit("("), F.col("col_type"), F.lit(")"),
    )
    src_opts = _sorted_source_agg(spark, mm_opt_part).select(
        "case_id",
        F.concat(F.lit("['"), F.array_join("parts", "', '"), F.lit("']")).alias("candidates_repr"),
    )
    targets = _target_attrs(spark).join(F.broadcast(src_opts), "case_id").select(
        "case_id",
        "query_attr",
        F.concat(
            F.lit("Input Schema:\n"), F.col("candidates_repr"),
            F.lit("\nInput Query:\n"),
            F.col("tgt_rel"), F.lit("-"), F.col("query_attr"),
            F.lit("("), F.col("query_type"), F.lit(")"),
            F.lit("\nReasoning: Let’s think step by step in order to"),
        ).alias("target_user"),
    )

    # per-target demo array in pool order (cross join against the broadcast
    # pool, self-case excluded), then the packing fold
    demos = (
        targets.join(F.broadcast(pool), F.col("demo_case") != F.col("case_id"))
        .groupBy("case_id", "query_attr", "target_user")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("demo_case"), F.col("demo_attr"),
                        F.col("ex_user").alias("u"), F.col("ex_answer").alias("a"),
                    )
                )
            ).alias("pool")
        )
    )

    base_tokens = token_count(F.lit(system)) + token_count(F.col("target_user"))
    out = []
    for k, max_seq in ICL_CONFIGS:
        init = F.struct(
            F.lit(0).alias("n"),
            base_tokens.alias("toks"),
            F.array().cast("array<struct<u:string,a:string>>").alias("sel"),
        )

        def make_step(_k: int, _max: int):
            def step(acc, d):
                cost = token_count(d["u"]) + token_count(d["a"])
                fits = (acc["n"] < F.lit(_k)) & (
                    acc["toks"] + cost + F.lit(_ICL_MAX_ANS_LEN) <= F.lit(_max)
                )
                grown = F.struct(
                    (acc["n"] + 1).alias("n"),
                    (acc["toks"] + cost).alias("toks"),
                    F.concat(
                        acc["sel"],
                        F.array(F.struct(d["u"].alias("u"), d["a"].alias("a"))),
                    ).alias("sel"),
                )
                return F.when(fits, grown).otherwise(acc)

            return step

        packed = F.aggregate(F.col("pool"), init, make_step(k, max_seq))
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
        prompt = F.concat(
            F.lit(f"<|im_start|>system\n{system}<|im_end|>\n"),
            shots,
            F.lit("<|im_start|>user\n"), F.col("target_user"),
            F.lit("<|im_end|>\n<|im_start|>assistant\n"),
        )
        out.append(
            demos.select(
                F.lit(f"k{k}_seq{max_seq}").alias("config"),
                F.lit(max_seq).alias("max_seq_len"),
                "case_id",
                "query_attr",
                packed["n"].alias("n_examples"),
                prompt.alias("prompt"),
            )
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


# ---------------------------------------------------------------------------
# example selectors (prompt_builder.get_example_selector, round 5)
# ---------------------------------------------------------------------------

_SELECTOR_SEED = 7564  # reference seed list head, ask_StableMatcher.py:254
_SELECTOR_K = 2

_CASE_IDX = {cid: i for i, cid in enumerate(MATCHING_CASES)}


def _case_idx_values() -> str:
    body = ", ".join(f"('{c}', {i})" for c, i in _CASE_IDX.items())
    return f"(VALUES {body}) AS ci(case_id, case_idx)"


_RANDOM_SEL_ORACLE = f"""
WITH ids AS (SELECT DISTINCT case_id FROM {cases_values_sql()}),
pairs AS (
  SELECT t.case_id, d.case_id AS demo_case_id,
         {hash60_sql(f"'{_SELECTOR_SEED}:' || t.case_id || ':' || d.case_id")}
           / {TWO_60_SQL} AS rnd
  FROM ids t JOIN ids d ON d.case_id <> t.case_id
)
SELECT case_id, demo_case_id, CAST(pick_rank AS INT) AS pick_rank
FROM (SELECT pairs.*, ROW_NUMBER() OVER (PARTITION BY case_id ORDER BY rnd, demo_case_id) AS pick_rank
      FROM pairs)
WHERE pick_rank <= {_SELECTOR_K}
"""


@query("q_example_selector_random", _RANDOM_SEL_ORACLE)
def q_example_selector_random(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RandomExampleSelector (ExampleSelectorTemplate.py:107-118): k seeded
    random demo cases per target, never the target itself.  The reference
    draws via ``random.Random(seed).sample``; the engine's canonical
    substitution (as for every seeded shuffle, SURVEY §2.6) is md5-derived
    deterministic randomness keyed by (seed, target, demo) — stable across
    partitioning, retries, and engines, so the draw itself is
    oracle-checkable.  Scale shape: the case-id dimension self-joins (both
    sides broadcastable), one window per target."""
    from ..functions.determinism import det_rand

    ids = case_catalog_df(spark).select("case_id").distinct()
    t = ids.select(F.col("case_id"))
    d = ids.select(F.col("case_id").alias("demo_case_id"))
    pairs = t.join(F.broadcast(d), F.col("demo_case_id") != F.col("case_id"))
    rnd = det_rand(_SELECTOR_SEED, F.col("case_id"), F.col("demo_case_id"))
    from pyspark.sql import Window as W

    win = W.partitionBy("case_id").orderBy(rnd.asc(), F.col("demo_case_id").asc())
    return (
        pairs.withColumn("pick_rank", F.row_number().over(win))
        .filter(F.col("pick_rank") <= _SELECTOR_K)
        .select("case_id", "demo_case_id", F.col("pick_rank").cast("int"))
    )


_COVERAGE_SEL_ORACLE = _base_cte() + f"""
, cov AS (
  SELECT case_id,
         SUM(CASE WHEN candidate_attr <> 'none of the options' THEN 1 ELSE 0 END)
           / CAST(COUNT(*) AS DOUBLE) AS coverage
  FROM ranked WHERE side = 'n_to_one' AND rank = 1
  GROUP BY case_id
),
ci AS (SELECT * FROM {_case_idx_values()}),
sel_pairs AS (
  SELECT t.case_id, d.case_id AS demo_case_id,
         abs(t.coverage - d.coverage) AS cov_diff, dci.case_idx AS demo_idx
  FROM cov t JOIN cov d ON d.case_id <> t.case_id
  JOIN ci dci ON dci.case_id = d.case_id
)
SELECT case_id, demo_case_id, round(cov_diff, 9) AS cov_diff,
       CAST(pick_rank AS INT) AS pick_rank
FROM (SELECT sel_pairs.*, ROW_NUMBER() OVER (PARTITION BY case_id ORDER BY cov_diff, demo_idx) AS pick_rank
      FROM sel_pairs)
WHERE pick_rank <= {_SELECTOR_K}
"""


@query("q_example_selector_coverage", _COVERAGE_SEL_ORACLE)
def q_example_selector_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimilarNullCoverageExampleSelector (ExampleSelectorTemplate.py:
    122-150): rank demo cases by |coverage(target) − coverage(demo)|
    ascending, take k.  Coverage is the engine's A13 ratio (aligned top-1
    picks / target attrs).  The reference's stable sort keeps dataset order
    on ties; the engine uses the explicit case ordinal as the tiebreak —
    same order, shuffle-safe.  One tiny coverage dimension (broadcast) +
    a per-target window."""
    prefs = preferences(spark)
    cov = (
        prefs.filter((F.col("side") == "n_to_one") & (F.col("rank") == 1))
        .groupBy("case_id")
        .agg(
            (
                F.sum(F.when(F.col("candidate_attr") != NO_MATCH, 1).otherwise(0))
                / F.count(F.lit(1)).cast("double")
            ).alias("coverage")
        )
    )
    idx = local_df(spark, 
        list(_CASE_IDX.items()), "case_id string, case_idx int"
    )
    t = cov.select(F.col("case_id"), F.col("coverage").alias("t_cov"))
    d = cov.join(idx, "case_id").select(
        F.col("case_id").alias("demo_case_id"),
        F.col("coverage").alias("d_cov"),
        F.col("case_idx").alias("demo_idx"),
    )
    pairs = t.join(F.broadcast(d), F.col("demo_case_id") != F.col("case_id")).select(
        "case_id", "demo_case_id",
        F.abs(F.col("t_cov") - F.col("d_cov")).alias("cov_diff"),
        "demo_idx",
    )
    from pyspark.sql import Window as W

    win = W.partitionBy("case_id").orderBy(F.col("cov_diff").asc(), F.col("demo_idx").asc())
    return (
        pairs.withColumn("pick_rank", F.row_number().over(win))
        .filter(F.col("pick_rank") <= _SELECTOR_K)
        .select(
            "case_id", "demo_case_id",
            F.round("cov_diff", 9).alias("cov_diff"),
            F.col("pick_rank").cast("int"),
        )
    )


# ---------------------------------------------------------------------------
# generate_question.py stage 8: the questions-JSON record shape
# ---------------------------------------------------------------------------


def _golden_questions() -> list[tuple[str, int, int, str, str]]:
    """The reference's per-case result record (BasicICLPrompt.format,
    PromptICLTemplate.py:245-276 + the questions-JSON sink,
    generate_question.py:302-360) for N2One_Json k=0: id, n_prompts count,
    summed prompt tokens, answer prefix, and the gold 'matches' payload
    (N2One_Json.get_answer, PromptReprTemplate.py:391-393) JSON-serialized
    in gold-list order."""
    per_case: dict[str, list[str]] = {}
    for repr_type, case_id, _attr, prompt in _golden_n2one():
        if repr_type == "N2One_Json":
            per_case.setdefault(case_id, []).append(prompt)
    rows = []
    for case_id, (_src, _tgt, gold) in MATCHING_CASES.items():
        matches = [f"{s.lower()}, {t.lower()}" for s, t in gold]
        payload = '{"matches": ["' + '", "'.join(matches) + '"]}'
        prompts = per_case[case_id]
        rows.append(
            (case_id, len(prompts), sum(PR.ws_tokens(p) for p in prompts),
             PR.N2ONE_ANSWER_PREFIX, payload)
        )
    return rows


_QUESTIONS_ORACLE = _values_oracle(
    _golden_questions(),
    ["case_id", "n_prompts", "prompt_tokens", "answer_prefix", "gold_matches"],
)


@query("q_generate_questions_record", _QUESTIONS_ORACLE)
def q_generate_questions_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end §3.1 record: the N2One_Json prompt frame rolled up to the
    questions-JSON sink shape.  Gold pairs serialize in gold-list order,
    recovered by joining the source column's col_idx (every case declares
    its gold pairs in source-column order — pinned by the golden oracle,
    which would hash-mismatch if a case ever broke the convention)."""
    from ..catalog.cases import gold_alignments_df

    prompts = q_repr_n2one_prompts(spark, sf_dir).filter(
        F.col("repr_type") == "N2One_Json"
    )
    stats = prompts.groupBy("case_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_prompts"),
        F.sum(token_count(F.col("prompt"))).cast("int").alias("prompt_tokens"),
    )
    src_idx = case_catalog_df(spark).filter(F.col("side") == "source").select(
        "case_id", F.col("col_name").alias("src"), "col_idx"
    )
    gold = (
        gold_alignments_df(spark)
        .join(F.broadcast(src_idx), ["case_id", "src"])
        .withColumn("pair", F.concat(F.col("src"), F.lit(", "), F.col("tgt")))
        .groupBy("case_id")
        .agg(
            F.concat(
                F.lit('{"matches": ["'),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("col_idx"), F.col("pair").alias("p")))
                        ),
                        lambda s: s["p"],
                    ),
                    '", "',
                ),
                F.lit('"]}'),
            ).alias("gold_matches")
        )
    )
    return stats.join(gold, "case_id").select(
        "case_id", "n_prompts", "prompt_tokens",
        F.lit(PR.N2ONE_ANSWER_PREFIX).alias("answer_prefix"),
        "gold_matches",
    )


# ---------------------------------------------------------------------------
# Schema-Mapping prompt render (generate_prompts.py path, round 5)
# ---------------------------------------------------------------------------

_MAP_SEED = 7564

# the q_mapping_overlap scenario's namespaces: source relations from the
# constraint-bearing testdata catalog, targets from the scenario DDL
_MAP_TARGETS = [
    {
        "name": "cust_orders",
        "attributes": [
            ("c_name", "string", "", False, True),
            ("o_orderkey", "bigint", "", False, True),
            ("o_totalprice", "double", "", False, True),
        ],
        "foreign_keys": [],
    },
    {
        "name": "big_orders",
        "attributes": [
            ("o_orderkey", "bigint", "", False, True),
            ("o_totalprice", "double", "", False, True),
        ],
        "foreign_keys": [],
    },
]


def _map_source_relations() -> list[dict]:
    from ..catalog.schema_catalog import testdata_catalog

    cat = testdata_catalog()
    out = []
    for name in ("orders", "customer"):
        rel = cat.rel(name)
        out.append(
            {
                "name": rel.name,
                "attributes": [
                    (a.name, a.type_str, a.description, a.is_pk, a.nullable)
                    for a in rel.attributes
                ],
                "foreign_keys": rel.foreign_keys,
            }
        )
    return out


def _golden_mapping_prompts() -> list[tuple[str, str, str]]:
    from ..functions import mapping_prompts as MP

    src = MP.serialize_schema_json(_map_source_relations(), _MAP_SEED)
    tgt = MP.serialize_schema_json(_MAP_TARGETS, _MAP_SEED)
    rows = []
    for template in MP.MAPPING_TEMPLATES:
        system, user = MP.render_mapping_prompt(template, src, tgt)
        rows.append((template, system, user))
    return rows


_MAPPING_PROMPT_ORACLE = _values_oracle(
    _golden_mapping_prompts(), ["template", "system_prompt", "user_prompt"]
)


@query("q_mapping_prompt_render", _MAPPING_PROMPT_ORACLE)
def q_mapping_prompt_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-Mapping prompt generation (``Schema Mapping/DatabaseUtils/
    prompt_templates.py`` + ``PromptBuilder.py:112-268``): the JSON schema
    serializer — seeded relation/attribute shuffles, constraint hints
    (nullable, description, foreign keys), declared-order primary keys —
    feeding all five template classes (JSON_original, SQL, SQLite,
    SQL_IgnorePKs, Datalog).

    Assembly is the prompt_q pattern: attribute JSON as codegen concat,
    TWO ordered collect_list aggs (attributes within relation, relations
    within namespace — ordering via the engine's md5 shuffle key, the
    §2.6 substitution for ``random.Random(seed).shuffle``), then a
    template cross-join over the one-row namespace frame.  Relation-level
    FK metadata rides the input frame as pre-serialized JSON (declared
    constants, not computed data)."""
    import json as _json

    from ..functions import mapping_prompts as MP

    rows = []
    for side, rels in (("source", _map_source_relations()), ("target", _MAP_TARGETS)):
        for rel in rels:
            fks = rel.get("foreign_keys") or []
            fk_json = (
                _json.dumps(
                    [
                        {
                            "from_attributes": list(fc),
                            "to_relation": tr,
                            "to_attributes": list(tc),
                        }
                        for fc, tr, tc in fks
                    ]
                )
                if fks
                else None
            )
            for idx, (name, typ, desc, is_pk, nullable) in enumerate(rel["attributes"]):
                rows.append(
                    (side, rel["name"], name, typ, desc, bool(is_pk), bool(nullable), idx, fk_json)
                )
    attrs = local_df(spark, 
        rows,
        "side string, rel string, attr string, col_type string, col_desc string, "
        "is_pk boolean, nullable boolean, col_idx int, fk_json string",
    )

    def _shuffle_key(c) -> F.Column:
        return F.md5(F.concat(F.lit(f"{_MAP_SEED}:"), c))

    attr_json = F.concat(
        F.lit('{"name": "'), F.col("attr"),
        F.lit('", "type": "'), F.col("col_type"),
        F.lit('", "nullable": "'),
        F.when(F.col("nullable"), F.lit("True")).otherwise(F.lit("False")),
        F.lit('"'),
        F.when(
            F.col("col_desc") != "",
            F.concat(F.lit(', "description": "'), F.col("col_desc"), F.lit('"')),
        ).otherwise(F.lit("")),
        F.lit("}"),
    )
    per_rel = (
        attrs.withColumn("attr_json", attr_json)
        .withColumn("akey", _shuffle_key(F.col("attr")))
        .groupBy("side", "rel", "fk_json")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("akey"), F.col("attr_json").alias("j")))
                    ),
                    lambda s: s["j"],
                ),
                ", ",
            ).alias("attrs_json"),
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("col_idx"),
                            F.when(F.col("is_pk"), F.col("attr")).alias("pk"),
                        )
                    )
                ),
                lambda s: s["pk"],
            ).alias("pk_arr"),
        )
    )
    pk_compact = F.filter(F.col("pk_arr"), lambda x: x.isNotNull())
    pk_json = F.when(F.size(pk_compact) == 0, F.lit("[]")).otherwise(
        F.concat(F.lit('["'), F.array_join(pk_compact, '", "'), F.lit('"]'))
    )
    rel_json = F.concat(
        F.lit('{"relation": "'), F.col("rel"),
        F.lit('", "attributes": ['), F.col("attrs_json"), F.lit("], "),
        F.lit('"primary key": '), pk_json,
        F.when(
            F.col("fk_json").isNotNull(),
            F.concat(F.lit(', "foreign keys": '), F.col("fk_json")),
        ).otherwise(F.lit("")),
        F.lit("}"),
    )
    per_ns = (
        per_rel.withColumn("rel_json", rel_json)
        .withColumn("rkey", _shuffle_key(F.col("rel")))
        .groupBy("side")
        .agg(
            F.concat(
                F.lit("["),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("rkey"), F.col("rel_json").alias("j")))
                        ),
                        lambda s: s["j"],
                    ),
                    ", ",
                ),
                F.lit("]"),
            ).alias("ns_json")
        )
    )
    both = per_ns.groupBy().agg(
        F.max(F.when(F.col("side") == "source", F.col("ns_json"))).alias("src"),
        F.max(F.when(F.col("side") == "target", F.col("ns_json"))).alias("tgt"),
    )
    templates = local_df(spark, 
        [(t, s, u) for t, (s, u) in MP.MAPPING_TEMPLATES.items()],
        "template string, system_prompt string, user_tmpl string",
    )
    return templates.crossJoin(F.broadcast(both)).select(
        "template",
        "system_prompt",
        F.replace(
            F.replace(F.col("user_tmpl"), F.lit("{source_schema}"), F.col("src")),
            F.lit("{target_schema}"),
            F.col("tgt"),
        ).alias("user_prompt"),
    )


# ---------------------------------------------------------------------------
# SAMPLE_DATA hint: the ColumnWiseSampler feeding the serializer
# ---------------------------------------------------------------------------

_SAMPLE_HINT_ATTRS = [
    ("orders", "o_orderstatus"),
    ("orders", "o_orderpriority"),
    ("customer", "c_name"),
    ("customer", "c_mktsegment"),
]
_SAMPLE_HINT_N = 3
_SAMPLE_HINT_SEED = 7564
_STR_LIMIT = 100  # PromptBuilder.py:18

_SAMPLE_HINT_ORACLE = "\nUNION ALL\n".join(
    f"""
SELECT '{tbl}' AS relation, '{attr}' AS attr,
       '["' || string_agg(v, '", "' ORDER BY rnk) || '"]' AS sample_values
FROM (
  SELECT CASE WHEN length(v) > {_STR_LIMIT} THEN substr(v, 1, {_STR_LIMIT}) || '...' ELSE v END AS v,
         ROW_NUMBER() OVER (ORDER BY es_key DESC, v ASC) AS rnk
  FROM (
    SELECT v, pow({hash60_sql(f"'{_SAMPLE_HINT_SEED}:' || v")}
                  / {TWO_60_SQL}, 1.0 / cnt) AS es_key
    FROM (SELECT {attr} AS v, COUNT(*) AS cnt FROM {tbl}
          WHERE {attr} IS NOT NULL GROUP BY {attr})
  )
) WHERE rnk <= {_SAMPLE_HINT_N}
"""
    for tbl, attr in _SAMPLE_HINT_ATTRS
)


@query("q_mapping_sample_data_hint", _SAMPLE_HINT_ORACLE)
def q_mapping_sample_data_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE_DATA hint for the mapping serializer (ColumnWiseSampler,
    ``Schema Mapping/DatabaseUtils/PromptBuilder.py:67-110``): per
    attribute, distinct values weighted by frequency, sampled without
    replacement via the seeded Efraimidis–Spirakis key (the engine's
    canonical substitution for ``np.rng.choice(p=...)``, exactly
    q_weighted_sample's machinery), TEXT values truncated at 100 chars +
    ``...`` (F6), rendered in sample-rank order as the serializer's
    ``sample data`` JSON fragment.

    Unlike the rest of the prompt surface this reads REAL instance tables,
    so it scales with sf: per attribute one hash agg over the column (map-
    side combine collapses duplicates) + one top-n window over the distinct
    dimension.  Text-supertype attributes only — instance data is
    all-strings on the matching side (InstanceDataHandler dtype=str), and
    numeric sample parity is a rendering concern, not sampler semantics."""
    from ..functions.determinism import det_rand
    from ..sources.readers import load_table

    out = None
    for tbl, attr in _SAMPLE_HINT_ATTRS:
        counts = (
            load_table(spark, sf_dir, tbl)
            .filter(F.col(attr).isNotNull())
            .groupBy(F.col(attr).alias("v"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        es_key = F.pow(det_rand(_SAMPLE_HINT_SEED, F.col("v")), 1.0 / F.col("cnt"))
        # top-n via orderBy().limit() -> TakeOrderedAndProject: a per-
        # partition heap + driver merge, NOT a single-partition global
        # window — the distinct-value dimension can be huge (c_name)
        top = (
            counts.withColumn("es_key", es_key)
            .orderBy(F.desc("es_key"), F.asc("v"))
            .limit(_SAMPLE_HINT_N)
        )
        truncated = F.when(
            F.length("v") > _STR_LIMIT,
            F.concat(F.substring("v", 1, _STR_LIMIT), F.lit("...")),
        ).otherwise(F.col("v"))
        frag = top.select(
            (-F.col("es_key")).alias("neg_key"), F.col("v"), truncated.alias("s")
        ).groupBy().agg(
            F.lit(tbl).alias("relation"),
            F.lit(attr).alias("attr"),
            F.concat(
                F.lit('["'),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col("neg_key"), F.col("v"), F.col("s"))
                            )
                        ),
                        lambda s: s["s"],
                    ),
                    '", "',
                ),
                F.lit('"]'),
            ).alias("sample_values"),
        )
        out = frag if out is None else out.unionByName(frag)
    return out


_TOKENS_ORACLE = _values_oracle(
    _golden_tokens(), ["repr_type", "case_id", "n_prompts", "prompt_tokens"]
)


@query("q_repr_prompt_tokens", _TOKENS_ORACLE)
def q_repr_prompt_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (repr, case) prompt count + summed whitespace-token budget — the
    ``prompt_tokens`` aggregate of BasicICLPrompt.format
    (PromptICLTemplate.py:245-276), over the catalog-driven templates."""
    scoring = q_repr_scoring_prompts(spark, sf_dir)
    n2one = q_repr_n2one_prompts(spark, sf_dir)
    tada = q_repr_tada_prompts(spark, sf_dir).select(
        F.lit("TaDa").alias("repr_type"), "case_id", "query_attr", "prompt"
    )
    allp = scoring.unionByName(n2one).unionByName(tada)
    return allp.groupBy("repr_type", "case_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_prompts"),
        F.sum(token_count(F.col("prompt"))).cast("int").alias("prompt_tokens"),
    )


# ---------------------------------------------------------------------------
# generate_question.py's printed cost report (the last stage of that driver)
# ---------------------------------------------------------------------------


def _golden_cost_report() -> list[tuple]:
    """Sequential twin of the cost report generate_question.py prints after
    formatting (generate_question.py:185-188 cost lines, 236-244 / 319-327
    k>0 example-count histogram + n_total_tokens).  Two reference quirks are
    pinned deliberately: 'tokens per question' divides the MEAN by the count
    again (:186-188), and n_total_tokens ADDS the mean to a total
    (:244,327).  Rationals are floor-milli integers so both engines agree
    bit-for-bit."""
    by_cfg: dict[str, list[tuple[int, int]]] = {}
    for config, _max_seq, _case, _attr, n_ex, prompt in _golden_icl():
        by_cfg.setdefault(config, []).append((n_ex, PR.ws_tokens(prompt)))
    rows = []
    for config in sorted(by_cfg):
        entries = by_cfg[config]
        n = len(entries)
        total = sum(t for _e, t in entries)
        exp = [0] * (max(k for k, _s in ICL_CONFIGS) + 1)
        for n_ex, _t in entries:
            exp[n_ex] += 1
        rows.append(
            (
                config,
                n,
                total,
                1000 * total // n,
                1000 * total // (n * n),
                n * _ICL_MAX_ANS_LEN * 1000 + 1000 * total // n,
                *exp,
            )
        )
    return rows


_COST_REPORT_ORACLE = _values_oracle(
    _golden_cost_report(),
    [
        "config", "n_questions", "sum_prompt_tokens", "token_cnt_milli",
        "tokens_per_q_milli", "n_total_tokens_milli",
        "exp_count_0", "exp_count_1", "exp_count_2",
    ],
)


@query("q_question_cost_report", _COST_REPORT_ORACLE)
def q_question_cost_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The questions-batch cost report (generate_question.py:185-188,
    236-244, 319-327): per config, question count, summed/mean prompt
    tokens, the projected total budget, and the k-shot example-count
    histogram (``exp_count``) — chained on top of the distributed ICL
    render, so the whole driver script is now one DataFrame pipeline:
    render -> this rollup -> the questions-record sink shape.

    Reference quirks pinned by the golden twin: ``tokens per question``
    re-divides the mean by the count, and ``n_total_tokens`` adds the mean
    to ``len(questions) * max_ans_len``.  Means are floor-milli integers
    (associative-exact across partitionings — float sums are not).  Scale
    shape: one hash aggregation over the prompt frame; the histogram is
    conditional aggregation, not a pivot shuffle."""
    qs = q_icl_prompt_render(spark, sf_dir)
    agg = qs.groupBy("config").agg(
        F.count(F.lit(1)).cast("int").alias("n_questions"),
        F.sum(token_count(F.col("prompt"))).cast("int").alias("sum_prompt_tokens"),
        *[
            F.sum(F.when(F.col("n_examples") == i, 1).otherwise(0))
            .cast("int")
            .alias(f"exp_count_{i}")
            for i in range(max(k for k, _s in ICL_CONFIGS) + 1)
        ],
    )
    return agg.select(
        "config",
        "n_questions",
        "sum_prompt_tokens",
        F.expr("(1000 * cast(sum_prompt_tokens as bigint)) div n_questions")
        .cast("int")
        .alias("token_cnt_milli"),
        F.expr(
            "(1000 * cast(sum_prompt_tokens as bigint))"
            " div (cast(n_questions as bigint) * n_questions)"
        )
        .cast("int")
        .alias("tokens_per_q_milli"),
        F.expr(
            f"cast(n_questions as bigint) * {_ICL_MAX_ANS_LEN} * 1000"
            " + (1000 * cast(sum_prompt_tokens as bigint)) div n_questions"
        )
        .cast("int")
        .alias("n_total_tokens_milli"),
        "exp_count_0",
        "exp_count_1",
        "exp_count_2",
    )
