"""Text-analysis surface over ``documents``: quality features, language ID,
token budgeting with CI, fingerprints (BASELINE.json north star; SURVEY A7/A14
for the token/cost statistics shapes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    LANG_MARKERS,
    fingerprint,
    marker_hits_all,
    ngram_strings,
    ngram_structs,
    quality_features,
    token_count,
    word_tokens,
)
from ..caching import scoped_persist
from ..functions.determinism import hash60_sql
from ..operators.metrics import mean_ci95
from ..sources.readers import load_table, spread_scan
from .registry import query
from ..functions.localframe import local_df

# -- quality features ---------------------------------------------------------

_QUALITY_ORACLE = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       length(text) AS n_chars,
       (length(text) - (len(string_split(text, ' ')) - 1)) / len(string_split(text, ' ')) AS mean_word_len,
       len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) AS distinct_ratio,
       len(list_filter(string_split(text, ' '), t -> t IN ('the', 'and', 'of', 'a', 'is'))) / len(string_split(text, ' ')) AS stopword_ratio
FROM documents
"""


@query("q_text_quality", _QUALITY_ORACLE)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    feats = quality_features("text")
    return d.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["n_chars"].alias("n_chars"),
        feats["mean_word_len"].alias("mean_word_len"),
        feats["distinct_ratio"].alias("distinct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
    )


# -- language identification --------------------------------------------------

_LANG_ORDER = ["en", "es", "de", "fr", "zh"]


def _lang_case_sql() -> str:
    # deterministic argmax: first language (in _LANG_ORDER) with the max hits
    hits = {
        lang: f"len(list_filter(string_split(text, ' '), t -> t IN ({', '.join(repr(m) for m in LANG_MARKERS[lang])})))"
        for lang in _LANG_ORDER
    }
    greatest = f"greatest({', '.join(hits[lang] for lang in _LANG_ORDER)})"
    whens = " ".join(
        f"WHEN {hits[lang]} = {greatest} THEN '{lang}'" for lang in _LANG_ORDER
    )
    return f"CASE {whens} END"


_LANGID_ORACLE = f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN predicted = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       SUM(CASE WHEN predicted = lang THEN 1 ELSE 0 END) / COUNT(*) AS lang_accuracy
FROM (SELECT lang, {_lang_case_sql()} AS predicted FROM documents)
GROUP BY lang
"""


@query("q_langid", _LANGID_ORACLE)
def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-marker language ID: per-language marker hit counts → first
    max-hit language in fixed precedence order."""
    d = load_table(spark, sf_dir, "documents")
    # ONE fused pass over the token array produces every language's hit
    # count (struct accumulator, functions/text.py marker_hits_all) — the
    # per-language filter scans traversed the array five times
    hits = marker_hits_all("text", {lang: LANG_MARKERS[lang] for lang in _LANG_ORDER})
    with_hits = d.withColumn("h", hits).select(
        "lang",
        *[F.col("h")[lang].alias(f"h_{lang}") for lang in _LANG_ORDER],
    )
    best = F.greatest(*[F.col(f"h_{lang}") for lang in _LANG_ORDER])
    predicted = F.when(F.col(f"h_{_LANG_ORDER[0]}") == best, _LANG_ORDER[0])
    for lang in _LANG_ORDER[1:]:
        predicted = predicted.when(F.col(f"h_{lang}") == best, lang)
    correct = F.sum(F.when(F.col("predicted") == F.col("lang"), 1).otherwise(0))
    return (
        with_hits.select("lang", predicted.alias("predicted"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            correct.alias("n_correct"),
            (correct / F.count(F.lit(1))).alias("lang_accuracy"),
        )
    )


# -- token budgeting with CI (A7/A14 real-tokenizer path) ---------------------
# The reference budgets prompts with real tokenizer counts
# (``Stable Schema Matching/prompt/PromptICLTemplate.py:24-25``); the engine
# runs its vendored BPE (functions/bpe.py — the public merge algorithm with a
# corpus-trained merge table) in an Arrow-batched pandas UDF.  The oracle side
# joins the materialized word→count table generated by the *same* encoder
# offline (tools/train_bpe.py), so the driver check proves the distributed
# merge loop itself, not a whitespace proxy.


def _bpe_values_sql() -> str:
    from ..functions.bpe_merges import WORD_TOKEN_COUNTS

    rows = ", ".join(f"('{w}', {n})" for w, n in sorted(WORD_TOKEN_COUNTS.items()))
    return f"(VALUES {rows}) AS bpe(word, n_tok)"


_TOKEN_ORACLE = f"""
WITH doc AS (
  SELECT source, doc_id, CAST(SUM(n_tok) AS BIGINT) AS tok
  FROM (SELECT source, doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
  JOIN {_bpe_values_sql()} USING (word)
  GROUP BY source, doc_id
)
SELECT source, COUNT(*) AS n_runs,
       (SUM(tok) / 1.0) / COUNT(*) AS mean_metric,
       sqrt((SUM(tok * tok) - (SUM(tok) * SUM(tok)) / COUNT(*)) / (COUNT(*) - 1) / 1.0 / 1.0) AS std_metric,
       1.96 * sqrt((SUM(tok * tok) - (SUM(tok) * SUM(tok)) / COUNT(*)) / (COUNT(*) - 1) / 1.0 / 1.0) / sqrt(COUNT(*)) AS ci95
FROM doc
GROUP BY source
"""


@query("q_token_stats", _TOKEN_ORACLE)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.bpe import bpe_token_count_udf
    from ..functions.bpe_merges import MERGES

    d = load_table(spark, sf_dir, "documents")
    # token counts are already integers: scale=1 keeps sum-of-squares well
    # inside int64 at any corpus size
    with_tokens = d.withColumn("tok", bpe_token_count_udf(MERGES)("text"))
    return mean_ci95(with_tokens, F.col("tok"), ["source"], scale=1.0)


# Distributed tokenizer training: Spark does the one corpus-sized pass (word
# frequency shuffle), the driver learns merges over the vocabulary-sized
# table.  The oracle is SF-ADAPTIVE while staying one static SQL string:
# per-sf merge lists (trained by tools/train_bpe.py on each committed sf
# dir's corpus) are embedded as VALUES keyed by the corpus's total character
# count, and the SQL self-selects the fixture via SUM(length(text)) over the
# documents view it is run against.  So the same oracle is green at sf0.001,
# sf0.01 AND sf0.1 — a hard-oracle check of an iterative algorithm at every
# committed scale (un-pinned in round 6 per VERDICT item 1).


from ..functions.sql_text import sql_quote as _sql_quote


def _bpe_train_oracle() -> str:
    from ..functions.bpe_merges import MERGES_BY_CORPUS

    rows = ", ".join(
        f"({key}, {i}, {_sql_quote(a)}, {_sql_quote(b)})"
        for key, merges in sorted(MERGES_BY_CORPUS.items())
        for i, (a, b) in enumerate(merges)
    )
    return f"""
WITH k AS (SELECT CAST(SUM(length(text)) AS BIGINT) AS ck FROM documents),
fixtures(corpus_key, merge_rank, lhs, rhs) AS (VALUES {rows})
SELECT merge_rank, lhs, rhs
FROM fixtures JOIN k ON fixtures.corpus_key = k.ck
"""


@query("q_bpe_train", _bpe_train_oracle())
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training vs the committed per-sf merge fixtures.

    The oracle embeds the merge list for EVERY committed sf dir (keyed by
    total corpus characters) and self-selects by reading that key back from
    the documents view, so the check is green at sf0.001 / sf0.01 / sf0.1
    alike.  An uncommitted corpus (e.g. a derived sf1) matches no fixture
    and the oracle returns 0 rows — a loud mismatch, not a silent pass."""
    from ..functions.bpe import train_bpe_distributed

    d = load_table(spark, sf_dir, "documents")
    merges = train_bpe_distributed(d, "text", n_merges=30, min_freq=2)
    return local_df(spark, 
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "merge_rank int, lhs string, rhs string",
    )


# -- document fingerprints ----------------------------------------------------

_FINGERPRINT_ORACLE = """
SELECT doc_id, lang,
       substr(md5(regexp_replace(lower(text), ' +', ' ', 'g')), 1, 16) AS fp
FROM documents
"""


@query("q_doc_fingerprint", _FINGERPRINT_ORACLE)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", fingerprint("text").alias("fp"))


# -- A7: token cost stats with Student-t CI -----------------------------------

def _t_values_sql() -> str:
    from ..operators.metrics import _T95

    rows = ", ".join(f"({n + 1}, {t})" for n, t in ((d, v) for d, v in _T95.items()))
    return f"(VALUES {rows}) AS tt(n_runs, t_crit)"


_TOKEN_T_ORACLE = f"""
WITH doc AS (
  SELECT source, doc_id, CAST(SUM(n_tok) AS BIGINT) AS tok
  FROM (SELECT source, doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
  JOIN {_bpe_values_sql()} USING (word)
  GROUP BY source, doc_id
),
base AS (
  SELECT source, COUNT(*) AS n_runs,
         (SUM(tok) / 1.0) / COUNT(*) AS mean_metric,
         sqrt((SUM(tok * tok) - (SUM(tok) * SUM(tok)) / COUNT(*)) / (COUNT(*) - 1) / 1.0 / 1.0) AS std_metric,
         1.0 * sqrt((SUM(tok * tok) - (SUM(tok) * SUM(tok)) / COUNT(*)) / (COUNT(*) - 1) / 1.0 / 1.0) / sqrt(COUNT(*)) AS sem
  FROM doc
  GROUP BY source
)
SELECT source, base.n_runs, mean_metric, std_metric,
       COALESCE(t_crit, 1.96) * sem AS ci95_t
FROM base LEFT JOIN {_t_values_sql()} ON base.n_runs = tt.n_runs
"""


@query("q_token_stats_t", _TOKEN_T_ORACLE)
def q_token_stats_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 (computational_eval.py:11-63): mean tokens with the reference's
    small-sample Student-t confidence interval — real BPE counts, same
    materialized-map oracle discipline as q_token_stats."""
    from ..functions.bpe import bpe_token_count_udf
    from ..functions.bpe_merges import MERGES
    from ..operators.metrics import mean_ci95_t

    d = load_table(spark, sf_dir, "documents")
    with_tokens = d.withColumn("tok", bpe_token_count_udf(MERGES)("text"))
    return mean_ci95_t(with_tokens, F.col("tok"), ["source"], scale=1.0)


# -- corpus n-gram frequency table -------------------------------------------

_TOP_BIGRAMS_ORACLE = """
SELECT bigram, cnt, bigram_rank FROM (
  SELECT bigram, COUNT(*) AS cnt,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, bigram ASC) AS bigram_rank
  FROM (
    SELECT ws[i] || ' ' || ws[i+1] AS bigram
    FROM (SELECT string_split(text, ' ') AS ws FROM documents),
         unnest(range(1, len(ws))) AS t(i)
  )
  GROUP BY bigram
) WHERE bigram_rank <= 20
"""


@query("q_top_bigrams", _TOP_BIGRAMS_ORACLE)
def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency table (LM-statistics shape): explode word
    bigrams, hash-aggregate with map-side combine, deterministic top-20."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    # explode the zipped-slice structs and join row-level: the whole
    # scan→explode→concat→partial-agg pipeline stays in whole-stage codegen
    # (the transform(gram_indices) idiom is an interpreted HOF per doc)
    counts = (
        d.select(F.explode(ngram_structs(words, 2)).alias("p"))
        .select(F.concat_ws(" ", F.col("p")["0"], F.col("p")["1"]).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # top-20 via orderBy().limit() = TakeOrderedAndProject (per-partition
    # heaps, driver merge) — NOT a global window, which would move the whole
    # corpus-sized bigram table to one partition.  The rank window then runs
    # over the 20 surviving rows only; the constant partition key makes the
    # single-partition-ness explicit (and bounded) rather than accidental.
    top = counts.orderBy(F.desc("cnt"), F.asc("bigram")).limit(20)
    win = W.partitionBy(F.lit(0)).orderBy(F.desc("cnt"), F.asc("bigram"))
    return top.withColumn("bigram_rank", F.row_number().over(win))


# -- BPE-ish token budgeting (whitespace proxy vs pre-tokenizer counts) ------

_BPE_TOKEN_ORACLE = """
SELECT source,
       CAST(SUM(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(len(regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+'))) AS BIGINT) AS total_bpe_tokens,
       SUM(len(regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+'))) * 1.0 / COUNT(*) AS avg_bpe_tokens,
       COUNT(*) AS n_docs
FROM documents
GROUP BY source
"""


@query("q_bpe_token_stats", _BPE_TOKEN_ORACLE)
def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budgeting with the BPE-style pre-tokenizer (SURVEY A14/U4): the
    regex runs inside whole-stage codegen, so per-document counting costs one
    scan with map-side partial aggregation — no Python, no shuffle of text."""
    from ..functions.text import bpe_ish_token_count

    d = load_table(spark, sf_dir, "documents")
    bpe = bpe_ish_token_count("text")
    return d.groupBy("source").agg(
        F.sum(token_count("text")).alias("total_ws_tokens"),
        F.sum(bpe).alias("total_bpe_tokens"),
        (F.sum(bpe) * F.lit(1.0) / F.count(F.lit(1))).alias("avg_bpe_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# -- repetition quality signal (Gopher-style duplicate n-gram fraction) ------

_REPETITION_ORACLE = """
SELECT doc_id, n_trigrams, n_distinct,
       CASE WHEN n_trigrams = 0 THEN 0.0
            ELSE CAST(n_trigrams - n_distinct AS DOUBLE) / n_trigrams END AS dup_ratio
FROM (
  SELECT doc_id, len(tgs) AS n_trigrams, len(list_distinct(tgs)) AS n_distinct
  FROM (
    SELECT doc_id,
           list_transform(range(1, greatest(len(ws) - 1, 1)),
                          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS tgs
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
  )
)
"""


@query("q_repetition_ratio", _REPETITION_ORACLE)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal for training-data filtering (the
    duplicate-trigram fraction used by Gopher/MassiveText-style pipelines):
    dup_ratio = 1 − distinct/total trigrams per document.  Pure map-side
    array expressions — no explode, no shuffle, embarrassingly parallel at
    corpus scale."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    tgs = ngram_strings(words, 3)
    return (
        d.select(
            "doc_id",
            F.size(tgs).alias("n_trigrams"),
            F.size(F.array_distinct(tgs)).alias("n_distinct"),
        )
        .withColumn(
            "dup_ratio",
            F.when(F.col("n_trigrams") == 0, F.lit(0.0)).otherwise(
                (F.col("n_trigrams") - F.col("n_distinct")).cast("double") / F.col("n_trigrams")
            ),
        )
    )


# -- PII scrubbing (redaction counts + scrubbed text length) -----------------

_PII_ORACLE = """
SELECT doc_id,
       len(regexp_extract_all(pii_text, '[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS n_emails,
       len(regexp_extract_all(pii_text, '\\d{3}-\\d{4}')) AS n_phones,
       length(regexp_replace(regexp_replace(pii_text,
              '[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
              '\\d{3}-\\d{4}', '<PHONE>', 'g')) AS scrubbed_len
FROM (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com or 555-' ||
         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS pii_text
  FROM documents
)
"""


@query("q_pii_scrub", _PII_ORACLE)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction for training corpora: count and replace email/phone
    patterns (the synthetic corpus carries no PII, so a deterministic
    address is appended per doc first — the operator under test is the
    scrub itself).  regexp_extract_all + regexp_replace are JVM-side
    codegen'd expressions; at 100 TB this is a pure map stage."""
    email_re = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
    phone_re = "\\d{3}-\\d{4}"
    d = load_table(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(pii_text, email_re, "<EMAIL>"), phone_re, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(pii_text, F.lit(email_re), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(pii_text, F.lit(phone_re), F.lit(0))).alias("n_phones"),
        F.length(scrubbed).alias("scrubbed_len"),
    )


# -- benchmark-contamination check (shared n-grams with a held-out set) ------

_CONTAMINATION_ORACLE = """
WITH shingled AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(ws) - 2, 1)),
                                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    WHERE len(ws) >= 4
  )
),
bench AS (SELECT DISTINCT shingle FROM shingled WHERE doc_id % 100 = 0)
SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS n_shared
FROM shingled s JOIN bench USING (shingle)
WHERE s.doc_id % 100 <> 0
GROUP BY s.doc_id
"""


def _contamination_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle): each document's distinct word 4-grams, the
    shingle stage both contamination queries match on (docs with fewer than
    4 tokens have none, as in the oracles)."""
    words = word_tokens("text")
    return (
        spread_scan(load_table(spark, sf_dir, "documents"))
        .filter(F.size(words) >= 4)
        .select("doc_id", F.explode(F.array_distinct(ngram_strings(words, 4))).alias("shingle"))
    )


@query("q_contamination", _CONTAMINATION_ORACLE)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: training docs sharing any 4-gram
    with a held-out eval set (docs with doc_id % 100 == 0 stand in for the
    benchmark).  Plan: distinct (doc, shingle) is one shuffle; the bench
    shingle set is small and broadcasts into a semi-join-shaped equi-join;
    the per-doc distinct count is a second, already-reduced shuffle.  The
    same max_df guard as the Jaccard pipeline applies at corpus scale."""
    shingled = _contamination_shingles(spark, sf_dir)
    bench = (
        shingled.filter(F.col("doc_id") % 100 == 0).select("shingle").distinct()
    )
    return (
        shingled.filter(F.col("doc_id") % 100 != 0)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_shared"))
    )


# -- Bloom-filter contamination (bounded-memory variant) ----------------------
# Same task as q_contamination, but the benchmark shingle set is summarized
# into an m-bit Bloom filter instead of broadcast exactly — the sketch to
# keep when the eval set's distinct shingles outgrow a broadcast but m bits
# don't.  md5-derived positions make every verdict INCLUDING the false
# positives engine-exact, so the FP accounting is itself oracle-checked.

_BLOOM_K = 3
_BLOOM_M = 4096

_BLOOM_ORACLE = f"""
WITH shingled AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(ws) - 2, 1)),
                                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    WHERE len(ws) >= 4
  )
),
bench AS (SELECT DISTINCT shingle FROM shingled WHERE doc_id % 100 = 0),
bits AS (
  SELECT DISTINCT {hash60_sql("j || ':' || shingle")} % {_BLOOM_M} AS pos
  FROM bench CROSS JOIN (SELECT unnest(range(0, {_BLOOM_K})) AS j)
),
corpus AS (SELECT doc_id, shingle FROM shingled WHERE doc_id % 100 <> 0),
member AS (
  SELECT shingle, COUNT(*) AS n_set FROM (
    SELECT p.shingle, {hash60_sql("j || ':' || p.shingle")} % {_BLOOM_M} AS pos
    FROM (SELECT DISTINCT shingle FROM corpus) p
    CROSS JOIN (SELECT unnest(range(0, {_BLOOM_K})) AS j)
  ) q JOIN bits USING (pos)
  GROUP BY shingle
)
SELECT c.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN m.n_set = {_BLOOM_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom,
       CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN m.n_set = {_BLOOM_K} THEN 1 ELSE 0 END)
            - SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
FROM corpus c
LEFT JOIN member m USING (shingle)
LEFT JOIN bench b ON b.shingle = c.shingle
GROUP BY c.doc_id
"""


@query("q_bloom_contamination", _BLOOM_ORACLE)
def q_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter benchmark contamination with exact FP accounting: each
    corpus doc reports its distinct shingles, Bloom hits, true hits, and
    false positives.  The filter is one m/64-word row bounded by m
    regardless of corpus size (operators/sketch.bloom_bitmap); the
    exact-join twin (q_contamination) stays the ground truth.

    r15: the membership verdict is a map-only codegen predicate per corpus
    row against the broadcast bitmap (bloom_bits_predicate) instead of the
    former distinct-shingle explode/semi-join/re-aggregate/join-back —
    that form paid three corpus-shingle-sized exchanges (the probe
    distinct, the per-key hit-count groupBy, and the member join) which
    the bitmap probe removes at any scale; recomputing k md5s per (doc,
    shingle) row is map-side work that costs no shuffle.  Fresh-process
    A/B at sf0.1 (tools/bench_one.py, best/median of 3): per-row recompute
    1.67/1.85 s vs distinct+join-back (same bitmap) 1.71–2.06/2.36–2.62 s
    vs the r14 explode/semi-join form 3.15/3.65 s — the recompute wins
    locally AND carries fewer exchanges."""
    from ..operators.sketch import BloomShape, _cms_col, bloom_bits_predicate, bloom_bitmap

    # persist EAGERLY: five plan branches reference the shingled frame
    # (filter bits, probe, per-doc rollup, truth join) and a lazy persist
    # does not dedup under AQE's concurrent materialization — profiled as
    # five concurrent single-task scan+explode stages (~1.9 s each).  The
    # r14-start A/B kept this lazy because the materialization itself ran
    # on one task (single-file scan); with the pre-explode spread in
    # _contamination_shingles the eager count is a ~0.2 s 32-way stage and
    # the branches all hit cache.
    shingled = scoped_persist(_contamination_shingles(spark, sf_dir), eager=True)
    bench = shingled.filter(F.col("doc_id") % 100 == 0).select("shingle").distinct()
    corpus = shingled.filter(F.col("doc_id") % 100 != 0)
    # positions are the oracle's hash60(j || ':' || shingle) % m
    shape = BloomShape(_BLOOM_M, _BLOOM_K, _cms_col)
    bitmap = bloom_bitmap(bench, "shingle", shape)
    flagged = (
        corpus.crossJoin(F.broadcast(bitmap))
        .withColumn(
            "in_filter",
            bloom_bits_predicate("shingle", F.col("words"), shape),
        )
        .join(
            F.broadcast(bench.withColumn("is_true", F.lit(1))), "shingle", "left"
        )
    )
    bloom_hit = F.sum(F.when(F.col("in_filter"), 1).otherwise(0))
    true_hit = F.sum(F.when(F.col("is_true").isNotNull(), 1).otherwise(0))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        bloom_hit.alias("n_bloom"),
        true_hit.alias("n_true"),
        (bloom_hit - true_hit).alias("n_false_pos"),
    )


# -- greedy sequence packing (token-budget bins for LM training) -------------

_PACK_BUDGET = 256

_PACK_ORACLE = f"""
WITH RECURSIVE docs AS (
  SELECT source, doc_id, len(string_split(text, ' ')) AS tok,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
pack AS (
  SELECT source, doc_id, tok, rn, 0 AS seq_id, tok AS acc
  FROM docs WHERE rn = 1
  UNION ALL
  SELECT d.source, d.doc_id, d.tok, d.rn,
         CASE WHEN p.acc + d.tok > {_PACK_BUDGET} THEN p.seq_id + 1 ELSE p.seq_id END,
         CASE WHEN p.acc + d.tok > {_PACK_BUDGET} THEN d.tok ELSE p.acc + d.tok END
  FROM docs d JOIN pack p ON d.source = p.source AND d.rn = p.rn + 1
)
SELECT source, doc_id, tok, seq_id FROM pack
"""


@query("q_pack_sequences", _PACK_ORACLE)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing for LM training: per source, docs in doc_id
    order are packed into consecutive sequences of ≤256 tokens (a doc that
    would overflow starts the next sequence; an oversized doc gets its own).
    Sequential state per group → ``applyInPandas`` (the corpus-scale analog
    of the reference's ICL example packing, PromptICLTemplate.py:195-219);
    parallelism comes from the source partitioning, exactly like stable
    matching parallelizes over cases.  The oracle derives the same packing
    with a recursive CTE."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    with_tok = d.select(
        "source", "doc_id", token_count("text").cast("bigint").alias("tok")
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        seqs, seq, acc = [], 0, 0
        for tok in pdf["tok"]:
            if acc > 0 and acc + tok > _PACK_BUDGET:
                seq += 1
                acc = tok
            else:
                acc += tok
            seqs.append(seq)
        pdf["seq_id"] = seqs
        return pdf

    return with_tok.groupBy("source").applyInPandas(
        pack, "source string, doc_id bigint, tok bigint, seq_id int"
    )


# -- vocabulary construction (token -> dense id) ------------------------------

_VOCAB_ORACLE = """
SELECT token, cnt, token_id FROM (
  SELECT token, COUNT(*) AS cnt,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token ASC) - 1 AS token_id
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
) WHERE cnt >= 5
"""


@query("q_vocab", _VOCAB_ORACLE)
def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary table for LM preprocessing: corpus token counts → dense
    token ids by (count desc, token) with a min-frequency floor.  One
    explode + hash agg with map-side combine; the id assignment is a global
    window — at 100 TB assign ids only to the (small) surviving vocabulary,
    which fits one partition after the frequency filter."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 5)
    )
    win = W.orderBy(F.desc("cnt"), F.asc("token"))
    return counts.withColumn("token_id", F.row_number().over(win) - 1)


# -- TF-IDF-style top terms per doc (integer-exact scoring) ------------------

_TFIDF_ORACLE = """
WITH tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY doc_id, token
),
lens AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS doc_len FROM tf GROUP BY doc_id),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token,
         CAST((tf.tf * n.n_docs * 1000000) // (df.df * lens.doc_len) AS BIGINT) AS score_milli
  FROM tf JOIN df USING (token) JOIN lens USING (doc_id) CROSS JOIN n
)
SELECT doc_id, token, score_milli, term_rank FROM (
  SELECT scored.*,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score_milli DESC, token ASC) AS term_rank
  FROM scored
) WHERE term_rank <= 3
"""


@query("q_tfidf_top_terms", _TFIDF_ORACLE)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic terms per document, TF-IDF shape with integer-exact
    scoring: score = ⌊tf·N·1e6 / (df·doc_len)⌋ — rational TF×(N/df)
    weighting without transcendental functions, so both engines rank rows
    identically (a float ln() would differ in ulps across engines and flip
    tie-adjacent ranks).  Two shuffles: (doc, token) tf and token df; the
    doc count is a 1-row broadcast."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    # NOT spread_scan'd: A/B'd the pre-explode spread here and it was
    # neutral — the plain token explode is cheap enough that the doc-row
    # shuffle costs what the parallelism saves (unlike the md5-heavy
    # window/shingle streams, where the spread wins)
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tf = scoped_persist(tf, eager=True)
    lens = tf.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.floor(
                (F.col("tf") * F.col("n_docs") * F.lit(1000000))
                / (F.col("df") * F.col("doc_len"))
            ).alias("score_milli"),
        )
    )
    win = W.partitionBy("doc_id").orderBy(F.desc("score_milli"), F.asc("token"))
    return (
        scored.withColumn("term_rank", F.row_number().over(win))
        .filter(F.col("term_rank") <= 3)
    )


# -- Python UDTF surface (Spark 4 table functions) ----------------------------

_UDTF_TOKENS_ORACLE = """
WITH arrs AS (
  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS arr
  FROM documents
),
toks AS (
  SELECT source, unnest(arr) AS token,
         generate_subscripts(arr, 1) - 1 AS pos
  FROM arrs
)
SELECT source, COUNT(*) AS n_tokens, COUNT(DISTINCT token) AS n_distinct,
       CAST(SUM(pos) AS BIGINT) AS sum_pos
FROM toks GROUP BY source
"""


@query("q_udtf_tokens", _UDTF_TOKENS_ORACLE)
def q_udtf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function) exploding documents into
    (token, pos) rows via a LATERAL join, rolled up per source.  This is
    the engine's one *deliberate* row-at-a-time Python surface — the API
    exists for table-generating logic that genuinely can't be an array
    expression; everything hot uses the JVM-side explode/split instead
    (q_top_bigrams, q_vocab), which is why this query stays off the bench
    headline.  The oracle reproduces position numbering exactly."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, token string, pos int")
    class TokenizeDocs:
        def eval(self, doc_id, text):  # noqa: ANN001 - UDTF contract
            toks = [t for t in (text or "").split(" ") if t]
            for i, t in enumerate(toks):
                yield doc_id, t, i

    spark.udtf.register("sdi_tokenize", TokenizeDocs)
    return spark.sql(
        """
        SELECT d.source, COUNT(*) AS n_tokens, COUNT(DISTINCT t.token) AS n_distinct,
               SUM(t.pos) AS sum_pos
        FROM {docs} d, LATERAL sdi_tokenize(d.doc_id, d.text) t
        GROUP BY d.source
        """,
        docs=load_table(spark, sf_dir, "documents"),
    )


# -- inverted index build -----------------------------------------------------
# token -> (document frequency, first postings) — the retrieval-side index a
# corpus pipeline materializes next to the training shards.  Postings are
# per-token sorted doc lists capped at 10 (array_sort + slice, JVM-side);
# the cap keeps hot stop-token rows bounded — the full posting list of a
# stop word is exactly the skew a real index shards by block instead.
# Postings ship as a ','-joined STRING rather than array<string>: the
# information is identical, and scalar columns stay hashable in every
# downstream canonicalizer (the r3 driver harness crashed sorting the
# array-typed column in pandas — VERDICT r3 item 1).

_INVERTED_ORACLE = """
WITH occ AS (
  SELECT DISTINCT unnest(string_split(text, ' ')) AS token, doc_id
  FROM documents
)
SELECT token,
       COUNT(*) AS df,
       array_to_string(list_slice(list_sort(list(doc_id)), 1, 10), ',') AS postings
FROM occ GROUP BY token
"""


@query("q_inverted_index", _INVERTED_ORACLE)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    occ = d.select(
        F.explode(F.split("text", " ", -1)).alias("token"), "doc_id"
    ).distinct()
    return occ.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        F.array_join(
            F.slice(F.array_sort(F.collect_list("doc_id")), 1, 10), ","
        ).alias("postings"),
    )


# -- Kneser-Ney bigram language model (rational-exact) ------------------------
# The classic interpolated KN estimate with discount d = 3/4:
#
#   P(w2|w1) = max(c12 - d, 0)/c1  +  d·N1+(w1·)/c1 · N1+(·w2)/N1+(··)
#
# d being the rational 3/4 means the whole estimate is one integer fraction:
#
#   P = [ max(4·c12 - 3, 0)·T  +  3·N1+(w1·)·N1+(·w2) ]  /  [ 4·c1·T ]
#
# with T = N1+(··) the distinct-bigram-type count — so both engines compute
# identical BIGINTs and the probability ships as an exact integer division
# (prob_milli).  Magnitude bound: numerator ≤ 4·c12·T·10⁶ must stay under
# 2⁶³ (holds through sf≈1 with c12~10⁵, T~10⁷); past that, int128 / decimal
# or a float presentation layer takes over — the count plumbing is unchanged.
# Scale shape: bigram counts = one hash agg; context stats (c1, fan-out)
# ride one groupBy on w1 and rejoin co-keyed; continuation counts one
# groupBy on w2; T is a 1-row broadcast.  Output is bounded to the top-10
# contexts (TakeOrderedAndProject) with c12 ≥ 3.

_KN_ORACLE = """
WITH big AS (
  SELECT ws[i] AS w1, ws[i+1] AS w2, COUNT(*) AS c12
  FROM (SELECT string_split(text, ' ') AS ws FROM documents),
       unnest(range(1, len(ws))) AS t(i)
  GROUP BY 1, 2
),
ctx AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1f FROM big GROUP BY w1),
cont AS (SELECT w2, COUNT(*) AS n1r FROM big GROUP BY w2),
t AS (SELECT COUNT(*) AS n_types FROM big),
top_ctx AS (SELECT w1 FROM ctx ORDER BY c1 DESC, w1 ASC LIMIT 10)
SELECT b.w1, b.w2, CAST(b.c12 AS BIGINT) AS c12, CAST(x.c1 AS BIGINT) AS c1,
       CAST((
         (GREATEST(4 * b.c12 - 3, 0) * t.n_types + 3 * x.n1f * c.n1r) * 1000000
       ) // (4 * x.c1 * t.n_types) AS BIGINT) AS kn_prob_milli
FROM big b
JOIN top_ctx USING (w1)
JOIN ctx x USING (w1)
JOIN cont c USING (w2)
CROSS JOIN t
WHERE b.c12 >= 3
"""


@query("q_kn_bigram_lm", _KN_ORACLE)
def q_kn_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    # persist: the bigram-type table feeds FIVE plan branches (context
    # stats, continuation counts, the type total, the top-context rank, and
    # the final projection) — without it each branch re-runs the corpus
    # explode+agg
    big = (
        d.select(F.explode(ngram_structs(words, 2)).alias("p"))
        .select(F.col("p")["0"].alias("w1"), F.col("p")["1"].alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    big = scoped_persist(big, eager=True)
    ctx = big.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1f")
    )
    cont = big.groupBy("w2").agg(F.count(F.lit(1)).alias("n1r"))
    types = big.agg(F.count(F.lit(1)).alias("n_types"))
    top_ctx = ctx.orderBy(F.desc("c1"), F.asc("w1")).limit(10).select("w1")
    return (
        big.join(F.broadcast(top_ctx), "w1")
        .filter(F.col("c12") >= 3)
        .join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("bigint").alias("c12"),
            F.col("c1").cast("bigint").alias("c1"),
            F.expr(
                "((GREATEST(4 * c12 - 3, 0) * n_types + 3 * n1f * n1r) * 1000000)"
                " DIV (4 * c1 * n_types)"
            ).alias("kn_prob_milli"),
        )
    )


# -- n-gram novelty curve (corpus-growth dedup signal) ------------------------
# For each document: the fraction of its distinct bigrams appearing for the
# FIRST time (no earlier doc_id contains them) — the novelty signal that
# drops as a crawl saturates, and the cheap per-doc proxy for "is this doc
# adding anything".  Two hash aggs (per-doc distinct bigrams via map-side
# array_distinct; per-bigram min doc) and one co-keyed join-back; the
# per-source rollup rides the same frame.

_NOVELTY_ORACLE = """
WITH bg AS (
  SELECT DISTINCT doc_id, source, ws[i] || ' ' || ws[i+1] AS bigram
  FROM (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
       unnest(range(1, len(ws))) AS t(i)
),
firsts AS (SELECT bigram, MIN(doc_id) AS first_doc FROM bg GROUP BY bigram),
per_doc AS (
  SELECT b.doc_id, ANY_VALUE(b.source) AS source,
         COUNT(*) AS n_bigrams,
         CAST(SUM(CASE WHEN f.first_doc = b.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM bg b JOIN firsts f USING (bigram)
  GROUP BY b.doc_id
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams,
       CAST(SUM(n_novel) AS BIGINT) AS total_novel,
       SUM(n_novel) * 1.0 / SUM(n_bigrams) AS novelty_ratio
FROM per_doc GROUP BY source
"""


@query("q_ngram_novelty", _NOVELTY_ORACLE)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    bigrams = ngram_strings(words, 2)
    # persist: the distinct-bigram frame feeds the first-occurrence agg AND
    # the join-back — without it the corpus explode runs twice
    bg = scoped_persist(
        d.select(
            "doc_id",
            "source",
            F.explode(F.array_distinct(bigrams)).alias("bigram"),
        )
    )
    firsts = bg.groupBy("bigram").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        bg.join(firsts, "bigram")
        .groupBy("doc_id")
        .agg(
            F.first("source").alias("source"),
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).cast("bigint").alias("n_novel"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bigrams").cast("bigint").alias("total_bigrams"),
        F.sum("n_novel").cast("bigint").alias("total_novel"),
        (F.sum("n_novel") * F.lit(1.0) / F.sum("n_bigrams")).alias("novelty_ratio"),
    )


# -- collocation mining: banded PMI over bigrams ------------------------------
# Pointwise mutual information ranks collocations, but log() cannot carry a
# hard cross-engine oracle.  The whole-bits discipline from
# q_perplexity_buckets applies on both sides of 1: with a = c_xy·N and
# b = c_x·c_y,
#
#     pmi_band = bitlen(a DIV b) - bitlen(b DIV a)
#
# (exactly one term is nonzero) is floor(log2(PMI)) for PMI ≥ 1 and the
# symmetric negative band below — a monotone integer PMI proxy, exact in
# both engines.  Counts: one bigram agg, one unigram agg, co-keyed joins;
# output bounded to the top-15 collocations among bigrams with c_xy ≥ 5
# (TakeOrderedAndProject).

_PMI_ORACLE = """
WITH uni AS (
  SELECT tok, COUNT(*) AS c FROM (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
  ) GROUP BY tok
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
big AS (
  SELECT ws[i] AS w1, ws[i+1] AS w2, COUNT(*) AS cxy
  FROM (SELECT string_split(text, ' ') AS ws FROM documents),
       unnest(range(1, len(ws))) AS t(i)
  GROUP BY 1, 2
),
scored AS (
  SELECT b.w1, b.w2, CAST(b.cxy AS BIGINT) AS cxy,
         CAST(
           (CASE WHEN (b.cxy * t.n) // (u1.c * u2.c) >= 1
                 THEN length(bin((b.cxy * t.n) // (u1.c * u2.c))) - 1 ELSE 0 END)
         - (CASE WHEN (u1.c * u2.c) // (b.cxy * t.n) >= 1
                 THEN length(bin((u1.c * u2.c) // (b.cxy * t.n))) - 1 ELSE 0 END)
         AS BIGINT) AS pmi_band
  FROM big b JOIN uni u1 ON b.w1 = u1.tok JOIN uni u2 ON b.w2 = u2.tok
  CROSS JOIN tot t
  WHERE b.cxy >= 5
)
SELECT w1, w2, cxy, pmi_band, colloc_rank FROM (
  SELECT scored.*, ROW_NUMBER() OVER (ORDER BY pmi_band DESC, cxy DESC,
                                      w1 ASC, w2 ASC) AS colloc_rank
  FROM scored
) WHERE colloc_rank <= 15
"""


@query("q_pmi_collocations", _PMI_ORACLE)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ", -1)).alias("tok"))
    # persist LAZILY — measured, twice: the unigram table feeds THREE
    # branches (the grand total and both join sides of the bigram scoring),
    # and on a cold run AQE materializes them concurrently so the lazy
    # persist does NOT dedup the first-run compute — but the unigram agg is
    # cheap enough that the overlapped redundant compute beats serializing
    # an eager count in wall-clock (r14 A/B, re-confirmed r15 interleaved
    # fresh-process: lazy 1.32/1.32/1.35 s cold vs eager 1.43/1.55/1.71 s).
    # Branches after the first run all hit the cache either way.
    uni = scoped_persist(
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("bigint").alias("n"))
    words = F.split("text", " ")
    big = (
        d.select(F.explode(ngram_structs(words, 2)).alias("p"))
        .select(F.col("p")["0"].alias("w1"), F.col("p")["1"].alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cxy"))
        .filter(F.col("cxy") >= 5)
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    a_div_b = F.expr("(cxy * n) DIV (c1 * c2)")
    b_div_a = F.expr("(c1 * c2) DIV (cxy * n)")
    band = (
        F.when(a_div_b >= 1, F.length(F.bin(a_div_b)) - 1).otherwise(0)
        - F.when(b_div_a >= 1, F.length(F.bin(b_div_a)) - 1).otherwise(0)
    ).cast("bigint")
    scored = (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", F.col("cxy").cast("bigint").alias("cxy"), band.alias("pmi_band"))
    )
    from pyspark.sql import Window as W

    top = scored.orderBy(
        F.desc("pmi_band"), F.desc("cxy"), F.asc("w1"), F.asc("w2")
    ).limit(15)
    win = W.partitionBy(F.lit(0)).orderBy(
        F.desc("pmi_band"), F.desc("cxy"), F.asc("w1"), F.asc("w2")
    )
    return top.withColumn("colloc_rank", F.row_number().over(win))
