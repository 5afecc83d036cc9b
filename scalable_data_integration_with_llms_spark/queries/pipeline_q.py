"""Training-corpus pipeline operations beyond single-corpus analytics:
incremental ingestion dedup, temperature-scaled source mixing, corpus-frequency
document scoring, and deterministic output sharding.

These are the day-2 operations of a 100 TB training-data pipeline (the
BASELINE.json north star): data arrives in batches and must dedup against the
already-ingested corpus, sources are re-weighted before sampling, documents
are scored against corpus statistics, and the blessed corpus is written out
in balanced deterministic shards.  All arithmetic follows the engine's
exactness discipline (functions/determinism.py): md5-derived randomness and
integer-scaled sums, so every query here carries a full DuckDB value oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.determinism import hash60, hash60_sql
from ..operators.dedup import content_key
from ..sources.readers import load_table
from .registry import query

# -- incremental ingestion dedup ----------------------------------------------
# New batch (doc_id % 10 = 0 plays the incoming batch) deduped against the
# already-ingested corpus (the rest) by exact content hash, then within-batch.
# Scale shape: the corpus side reduces to DISTINCT 32-char hashes before the
# join (never ships text), the incoming batch shuffles once on the hash, and
# both dup classes fall out of one left join + one groupBy — at 100 TB the
# corpus hash set is a bucketed table and this becomes a co-located join.

_INCREMENTAL_ORACLE = """
WITH incoming AS (
  SELECT doc_id, source, md5(text) AS h FROM documents WHERE doc_id % 10 = 0
),
corpus AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 <> 0
),
firsts AS (
  SELECT h, MIN(doc_id) AS first_id FROM incoming GROUP BY h
),
flagged AS (
  SELECT i.doc_id, i.source,
         CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END AS corpus_dup,
         CASE WHEN c.h IS NULL AND i.doc_id <> f.first_id THEN 1 ELSE 0 END AS batch_dup
  FROM incoming i
  LEFT JOIN corpus c ON i.h = c.h
  JOIN firsts f ON i.h = f.h
)
SELECT source,
       COUNT(*) AS n_incoming,
       CAST(SUM(corpus_dup) AS BIGINT) AS n_corpus_dup,
       CAST(SUM(batch_dup) AS BIGINT) AS n_batch_dup,
       CAST(COUNT(*) - SUM(corpus_dup) - SUM(batch_dup) AS BIGINT) AS n_kept
FROM flagged GROUP BY source
"""


@query("q_incremental_dedup", _INCREMENTAL_ORACLE)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    incoming = d.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", "source", content_key("text").alias("h")
    )
    corpus_hashes = (
        d.filter(F.col("doc_id") % 10 != 0).select(content_key("text").alias("h")).distinct()
    )
    firsts = incoming.groupBy("h").agg(F.min("doc_id").alias("first_id"))
    flagged = (
        incoming.join(corpus_hashes.withColumn("in_corpus", F.lit(1)), "h", "left")
        .join(firsts, "h")
        .select(
            "source",
            F.when(F.col("in_corpus").isNotNull(), 1).otherwise(0).alias("corpus_dup"),
            F.when(
                F.col("in_corpus").isNull() & (F.col("doc_id") != F.col("first_id")), 1
            )
            .otherwise(0)
            .alias("batch_dup"),
        )
    )
    n = F.count(F.lit(1))
    return flagged.groupBy("source").agg(
        n.alias("n_incoming"),
        F.sum("corpus_dup").alias("n_corpus_dup"),
        F.sum("batch_dup").alias("n_batch_dup"),
        (n - F.sum("corpus_dup") - F.sum("batch_dup")).alias("n_kept"),
    )


# -- temperature-scaled source mixture ----------------------------------------
# Data-mixing weights for training: p_i ∝ n_tokens_i^alpha with alpha = 0.5
# flattens over-represented sources (the multilingual-sampling trick).  sqrt
# is IEEE-correctly-rounded so round(sqrt(n)*1e6) is the same bigint in every
# engine; the allocation is pure integer arithmetic (w*B div total), immune to
# double-sum ordering.  One token-count aggregate + a 1-row broadcast total.

_MIXTURE_BUDGET = 100_000

_MIXTURE_ORACLE = f"""
WITH per_source AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
weighted AS (
  SELECT *, CAST(round(sqrt(n_tokens) * 1000000) AS BIGINT) AS w FROM per_source
)
SELECT source, n_docs, n_tokens,
       w / (SELECT SUM(w) FROM weighted) AS mix_prob,
       CAST((w * {_MIXTURE_BUDGET}) // (SELECT SUM(w) FROM weighted) AS BIGINT) AS doc_budget
FROM weighted
"""


@query("q_source_mixture", _MIXTURE_ORACLE)
def q_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " ", -1))).alias("n_tokens"),
    )
    weighted = per_source.withColumn(
        "w", F.round(F.sqrt("n_tokens") * 1e6).cast("bigint")
    )
    # the per-source frame is tiny: an unbounded window beats a self-join
    total = F.sum("w").over(Window.partitionBy())
    return weighted.withColumn("total_w", total).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("w") / F.col("total_w")).alias("mix_prob"),
        F.expr(f"w * {_MIXTURE_BUDGET} div total_w").alias("doc_budget"),
    )


# -- corpus-frequency document scoring ----------------------------------------
# Unigram "commonness" score: mean corpus document-frequency of a document's
# token occurrences — the dependency-free core of an LM-perplexity quality
# filter (rare-token-heavy documents score low, boilerplate scores high).
# Exact: document frequencies and their per-doc sums are bigints; the single
# final division is identical in both engines.  Scale shape: one (doc, token)
# distinct for the DF table, one token-keyed join (vocab is Zipf-small —
# broadcastable long after the corpus isn't), one doc-keyed combine.

_COMMONNESS_ORACLE = """
WITH occ AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
df AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM occ GROUP BY tok
)
SELECT o.doc_id, COUNT(*) AS n_tokens, CAST(SUM(d.df) AS BIGINT) AS sum_df,
       SUM(d.df) / COUNT(*) AS mean_df
FROM occ o JOIN df d ON o.tok = d.tok
GROUP BY o.doc_id
"""


@query("q_doc_commonness", _COMMONNESS_ORACLE)
def q_doc_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    occ = d.select("doc_id", F.explode(F.split("text", " ", -1)).alias("tok"))
    df_table = (
        occ.distinct().groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    )
    return (
        occ.join(df_table, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("df").alias("sum_df"),
            (F.sum("df") / F.count(F.lit(1))).alias("mean_df"),
        )
    )


# -- deterministic output sharding --------------------------------------------
# Training corpora are written as N fixed shards, shuffled but reproducible:
# shard(doc) = hash60(seed, doc_id) mod N — stable under retries, partitioning,
# and engines (functions/determinism.py:hash60), unlike hash-partitioning
# whose murmur seed is engine-private.  The query audits shard balance (doc
# and token counts per shard); the write path is
# ``df.repartition(N, shard_col).write`` with the same column.

_N_SHARDS = 64

_SHARD_ORACLE = f"""
SELECT {hash60_sql("'shard42:' || doc_id")} % {_N_SHARDS} AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents GROUP BY 1
"""


@query("q_shard_assignment", _SHARD_ORACLE)
def q_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    shard = hash60(F.concat(F.lit("shard42:"), F.col("doc_id"))) % _N_SHARDS
    return (
        d.select(shard.alias("shard"), "doc_id", F.size(F.split("text", " ", -1)).alias("tok"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("n_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# -- the whole corpus pipeline as ONE plan ------------------------------------
# The LLM-data twin of q_pipeline_e2e: quality gate -> language ID -> exact
# dedup (first-seen keeper) -> real-BPE token accounting -> deterministic
# shard assignment, rolled up per (predicted language, shard).  Every stage
# reuses the operator the standalone query declares, so this is the
# composition proof: the stages fuse into one plan with two shuffles (the
# dedup groupBy and the final rollup) and the oracle replays the identical
# math end to end.

_E2E_N_SHARDS = 16
_E2E_MIN_TOKENS = 20


def _e2e_oracle() -> str:
    from .text_q import _lang_case_sql

    from ..functions.bpe_merges import WORD_TOKEN_COUNTS

    bpe_rows = ", ".join(f"('{w}', {n})" for w, n in sorted(WORD_TOKEN_COUNTS.items()))
    return f"""
WITH gated AS (
  SELECT doc_id, text, {_lang_case_sql()} AS predicted
  FROM documents
  WHERE len(string_split(text, ' ')) >= {_E2E_MIN_TOKENS}
    AND len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) >= 0.3
),
keepers AS (
  SELECT doc_id, text, predicted FROM (
    SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS first_id FROM gated
  ) WHERE doc_id = first_id
),
toks AS (
  SELECT k.doc_id, k.predicted, CAST(SUM(b.n_tok) AS BIGINT) AS bpe_tokens
  FROM (SELECT doc_id, predicted, unnest(string_split(text, ' ')) AS word FROM keepers) k
  JOIN (VALUES {bpe_rows}) AS b(word, n_tok) USING (word)
  GROUP BY k.doc_id, k.predicted
)
SELECT predicted AS lang,
       {hash60_sql("'shard42:' || doc_id")} % {_E2E_N_SHARDS} AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(bpe_tokens) AS BIGINT) AS sum_tokens
FROM toks
GROUP BY 1, 2
"""


@query("q_corpus_pipeline_e2e", _e2e_oracle())
def q_corpus_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate -> langid -> exact-dedup keeper -> real BPE budget ->
    shard, per (lang, shard) — the full training-corpus pipeline as one
    oracle-checked DataFrame plan."""
    from ..functions.bpe import bpe_token_count_udf
    from ..functions.bpe_merges import MERGES
    from ..functions.text import LANG_MARKERS, marker_hits_all
    from .text_q import _LANG_ORDER

    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ", -1)
    n_tok = F.size(words)
    distinct_ratio = F.size(F.array_distinct(words)) / n_tok
    hits = marker_hits_all("text", {lang: LANG_MARKERS[lang] for lang in _LANG_ORDER})
    gated = (
        d.filter((n_tok >= _E2E_MIN_TOKENS) & (distinct_ratio >= 0.3))
        .withColumn("h", hits)
    )
    best = F.greatest(*[F.col("h")[lang] for lang in _LANG_ORDER])
    predicted = F.when(F.col("h")[_LANG_ORDER[0]] == best, _LANG_ORDER[0])
    for lang in _LANG_ORDER[1:]:
        predicted = predicted.when(F.col("h")[lang] == best, lang)
    flagged = gated.select("doc_id", "text", predicted.alias("predicted"))
    keepers = (
        flagged.withColumn(
            "first_id", F.min("doc_id").over(Window.partitionBy(content_key("text")))
        )
        .filter(F.col("doc_id") == F.col("first_id"))
        .drop("first_id")
    )
    with_tokens = keepers.withColumn("bpe_tokens", bpe_token_count_udf(MERGES)("text"))
    shard = hash60(F.concat(F.lit("shard42:"), F.col("doc_id"))) % _E2E_N_SHARDS
    return (
        with_tokens.select(
            F.col("predicted").alias("lang"), shard.alias("shard"), "bpe_tokens"
        )
        .groupBy("lang", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("bpe_tokens").alias("sum_tokens"),
        )
    )


# -- distribution drift monitor -----------------------------------------------
# Per-source unigram distribution vs the corpus-wide distribution — the
# drift check a pipeline runs when a new crawl/source lands (did the token
# mix shift?).  Scored by the χ² divergence Σ (p−q)²/q: unlike KL, every
# operation in the per-term score (±, ×, ÷) is IEEE-754 correctly-rounded,
# so with identical expression order both engines produce BIT-IDENTICAL
# doubles and the quantize-then-sum is engine-exact by construction.  KL's
# log2 is transcendental — not correctly-rounded — so a 1-ulp JVM-vs-libm
# divergence near a quantization boundary could flip a per-term bigint (the
# latent cross-engine flake flagged in r2 ADVICE); a KL variant is the same
# plan with F.log2 swapped in, but it cannot carry a hard value oracle.
# Each term's contribution quantizes to a bigint BEFORE the sum, so the
# aggregate is order-independent.  Scale shape: two token-keyed aggregates
# (both reduce map-side) and a vocabulary-sized broadcast join.

_DRIFT_QUANT = 1_000_000_000


def _drift_oracle() -> str:
    return f"""
WITH occ AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
src_tot AS (SELECT source, COUNT(*) AS n FROM occ GROUP BY source),
src_cnt AS (SELECT source, tok, COUNT(*) AS c FROM occ GROUP BY source, tok),
corp_tot AS (SELECT COUNT(*) AS n FROM occ),
corp_cnt AS (SELECT tok, COUNT(*) AS c FROM occ GROUP BY tok)
SELECT s.source,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(CAST(round(((s.c / st.n) - (cc.c / ct.n)) * ((s.c / st.n) - (cc.c / ct.n))
                           / (cc.c / ct.n) * {_DRIFT_QUANT}, 0) AS BIGINT)) AS BIGINT) AS chi2_q
FROM src_cnt s
JOIN src_tot st USING (source)
JOIN corp_cnt cc USING (tok)
CROSS JOIN corp_tot ct
GROUP BY s.source
"""


@query("q_source_drift", _drift_oracle())
def q_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ²(source ‖ corpus) over unigram distributions, per source — exact
    cross-engine via per-term quantization of a correctly-rounded-only
    float expression (see module comment: KL's log2 can't make that
    guarantee)."""
    d = load_table(spark, sf_dir, "documents")
    occ = d.select("source", F.explode(F.split("text", " ", -1)).alias("tok"))
    src_tot = occ.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    src_cnt = occ.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c_src"))
    corp_tot = occ.agg(F.count(F.lit(1)).alias("n_corp"))
    corp_cnt = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("c_corp"))
    p = F.col("c_src") / F.col("n_src")
    q = F.col("c_corp") / F.col("n_corp")
    # association order mirrors the oracle exactly: ((p-q)*(p-q)/q)*QUANT
    term_q = F.round((p - q) * (p - q) / q * F.lit(_DRIFT_QUANT), 0).cast("bigint")
    return (
        src_cnt.join(src_tot, "source")
        .join(F.broadcast(corp_cnt), "tok")
        .crossJoin(F.broadcast(corp_tot))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(term_q).alias("chi2_q"),
        )
    )


# -- chunk-level (paragraph) dedup --------------------------------------------
# Duplication in web corpora is often PARTIAL: a page repeats another page's
# paragraphs.  Doc-level dedup misses it; chunk-level dedup splits each doc
# into fixed word-window chunks, hashes them, and keeps each chunk's first
# occurrence (min doc_id) corpus-wide.  One shuffle on the chunk hash gives
# both the owner assignment and the per-doc attrition table — the decision
# record a curation run publishes ("doc 17 loses 3 of 9 chunks").
# Scale shape: chunks are non-overlapping (corpus size × 1, unlike shingles'
# × n), the groupBy reduces map-side, and text never shuffles (only hashes).

_CHUNK_WORDS = 20

_PARAGRAPH_ORACLE = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
chunks AS (
  SELECT doc_id,
         md5(array_to_string(ws[(i*{_CHUNK_WORDS})+1 : (i+1)*{_CHUNK_WORDS}], ' ')) AS h
  FROM w, unnest(range(0, CAST(ceil(len(ws) / {_CHUNK_WORDS}.0) AS BIGINT))) AS t(i)
),
owner AS (SELECT h, MIN(doc_id) AS owner_doc FROM chunks GROUP BY h)
SELECT c.doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN o.owner_doc = c.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN o.owner_doc <> c.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM chunks c JOIN owner o USING (h)
GROUP BY c.doc_id
"""


@query("q_paragraph_dedup", _PARAGRAPH_ORACLE)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup: per doc, how many {_CHUNK_WORDS}-word chunks it
    keeps vs loses to an earlier (min-doc_id) owner of the same chunk hash.
    The keep/drop rule is the reconstruction recipe: rebuild each doc from
    its owned chunks only."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_chunks = F.ceil(F.size(words) / F.lit(float(_CHUNK_WORDS)))
    idx = F.sequence(F.lit(0), n_chunks.cast("int") - 1)
    chunk = F.md5(
        F.concat_ws(
            " ",
            F.slice(F.col("__ws"), F.col("i") * _CHUNK_WORDS + 1, _CHUNK_WORDS),
        )
    )
    chunks = (
        d.select("doc_id", words.alias("__ws"), F.explode(idx).alias("i"))
        .select("doc_id", chunk.alias("h"))
    )
    owner = chunks.groupBy("h").agg(F.min("doc_id").alias("owner_doc"))
    kept = F.sum(F.when(F.col("owner_doc") == F.col("doc_id"), 1).otherwise(0))
    return (
        chunks.join(owner, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            kept.alias("n_kept"),
            (F.count(F.lit(1)) - kept).alias("n_dropped"),
        )
    )


# -- quality-filter funnel (one-scan cascade attrition) -----------------------
# Every curation pipeline publishes its attrition funnel: how many docs each
# filter stage dropped.  The naive implementation runs one scan per stage;
# this is ONE scan with cumulative stage booleans folded into a single
# aggregate — per stage: survivors entering, dropped here, surviving out.
# Stages (applied in order): length floor, script/lang known, repetition cap
# (distinct-word ratio), alnum density.

_FUNNEL_ORACLE = """
WITH f AS (
  SELECT doc_id,
         (n_chars >= 100) AS s1,
         (lang IS NOT NULL AND lang <> '') AS s2,
         (len(list_distinct(string_split(text, ' '))) * 1.0
            / GREATEST(len(string_split(text, ' ')), 1) >= 0.3) AS s3,
         (length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) * 1.0
            / GREATEST(length(text), 1) >= 0.5) AS s4
  FROM documents
),
c AS (
  SELECT COUNT(*) AS n0,
         CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN s1 AND s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN s1 AND s2 AND s3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(SUM(CASE WHEN s1 AND s2 AND s3 AND s4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
  FROM f
)
SELECT stage, stage_name, n_in, n_out, n_in - n_out AS n_dropped FROM (
  SELECT 1 AS stage, 'min_length' AS stage_name, n0 AS n_in, n1 AS n_out FROM c
  UNION ALL SELECT 2, 'lang_known', n1, n2 FROM c
  UNION ALL SELECT 3, 'repetition', n2, n3 FROM c
  UNION ALL SELECT 4, 'alnum_density', n3, n4 FROM c
)
"""


@query("q_filter_funnel", _FUNNEL_ORACLE)
def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter cascade attrition in ONE scan: cumulative stage
    predicates as conditional sums, unpivoted to the per-stage funnel
    (n_in, n_out, n_dropped).  No per-stage jobs, no text shuffle — the
    aggregate is 5 longs."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    s1 = F.col("n_chars") >= 100
    s2 = F.col("lang").isNotNull() & (F.col("lang") != "")
    s3 = (
        F.size(F.array_distinct(words)) * F.lit(1.0)
        / F.greatest(F.size(words), F.lit(1))
        >= 0.3
    )
    s4 = (
        F.length(F.regexp_replace("text", "[^a-zA-Z0-9]", "")) * F.lit(1.0)
        / F.greatest(F.length("text"), F.lit(1))
        >= 0.5
    )
    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    agg = d.agg(
        F.count(F.lit(1)).alias("n0"),
        cnt(s1).alias("n1"),
        cnt(s1 & s2).alias("n2"),
        cnt(s1 & s2 & s3).alias("n3"),
        cnt(s1 & s2 & s3 & s4).alias("n4"),
    )
    stages = [(1, "min_length", "n0", "n1"), (2, "lang_known", "n1", "n2"),
              (3, "repetition", "n2", "n3"), (4, "alnum_density", "n3", "n4")]
    rows = F.array(*[
        F.struct(
            F.lit(i).alias("stage"), F.lit(name).alias("stage_name"),
            F.col(a).alias("n_in"), F.col(b).alias("n_out"),
        )
        for i, name, a, b in stages
    ])
    return (
        agg.select(F.explode(rows).alias("r"))
        .select("r.stage", "r.stage_name", "r.n_in", "r.n_out")
        .withColumn("n_dropped", F.col("n_in") - F.col("n_out"))
    )


# -- per-source document caps (domain-cap curation) ---------------------------
# Common Crawl-style curation caps how much any one domain contributes.
# Per source keep the top-CAP docs by quality (here: length desc, doc_id asc
# as the deterministic tie-break) and report the attrition.  The window is
# partitioned by source — bounded frames; the heavy tail a real crawl has is
# exactly what the cap removes.

_SOURCE_CAP = 40

_SOURCE_CAP_ORACLE = f"""
WITH ranked AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN rk <= {_SOURCE_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rk > {_SOURCE_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_capped,
       CAST(MIN(CASE WHEN rk <= {_SOURCE_CAP} THEN doc_id END) AS BIGINT) AS sample_kept_doc
FROM ranked GROUP BY source
"""


@query("q_source_caps", _SOURCE_CAP_ORACLE)
def q_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contribution caps: rank docs within source by (n_chars
    desc, doc_id) and keep the top {_SOURCE_CAP}; emit the per-source
    attrition and a deterministic sample of the kept set."""
    d = load_table(spark, sf_dir, "documents")
    win = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    ranked = d.select("source", "doc_id", F.row_number().over(win).alias("rk"))
    kept = F.when(F.col("rk") <= _SOURCE_CAP, 1).otherwise(0)
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept).cast("bigint").alias("n_kept"),
        F.sum(1 - kept).cast("bigint").alias("n_capped"),
        F.min(F.when(F.col("rk") <= _SOURCE_CAP, F.col("doc_id"))).alias("sample_kept_doc"),
    )


# -- CCNet-style perplexity bucketing (unigram surprisal, integer-exact) ------
# CCNet splits each crawl slice into head/middle/tail quality buckets by LM
# perplexity.  The engine's re-expression scores each document by its mean
# unigram surprisal against the corpus itself, measured in WHOLE BITS so the
# oracle is integer-exact with no transcendental functions:
#
#     bits(token) = floor(log2(N / c))  =  length(bin(N DIV c)) - 1
#
# (the identity floor(log2(x)) = floor(log2(floor(x))) holds for x >= 1, and
# bin() of a BIGINT has no leading zeros in either engine).  Common tokens
# contribute few bits, rare tokens many — the integer skeleton of -log2 p.
# Scale shape: token counts are one hash aggregation; the per-doc rollup a
# second; the corpus total a 1-row broadcast.  The tercile split uses an
# exact per-source ntile here (sorts each source on one task — exactness
# demo); production uses FIXED bit thresholds calibrated offline, which makes
# bucketing map-only (CCNet itself buckets on precomputed cutoffs).

_PPLX_ORACLE = """
WITH occ AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok FROM documents
),
cnt AS (SELECT tok, COUNT(*) AS c FROM occ GROUP BY tok),
tot AS (SELECT COUNT(*) AS n FROM occ),
doc_bits AS (
  SELECT o.doc_id, ANY_VALUE(o.source) AS source,
         SUM(length(bin(t.n // c.c)) - 1) AS total_bits,
         COUNT(*) AS n_tok
  FROM occ o JOIN cnt c USING (tok) CROSS JOIN tot t
  GROUP BY o.doc_id
),
scored AS (
  SELECT source, doc_id, (total_bits * 1000) // n_tok AS avg_bits_milli,
         NTILE(3) OVER (PARTITION BY source
                        ORDER BY (total_bits * 1000) // n_tok, doc_id) AS tercile
  FROM doc_bits
)
SELECT source,
       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(avg_bits_milli) AS BIGINT) AS sum_bits_milli,
       CAST(MIN(avg_bits_milli) AS BIGINT) AS min_bits_milli,
       CAST(MAX(avg_bits_milli) AS BIGINT) AS max_bits_milli
FROM scored GROUP BY source, bucket
"""


@query("q_perplexity_buckets", _PPLX_ORACLE)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    occ = d.select("doc_id", "source", F.explode(F.split("text", " ", -1)).alias("tok"))
    cnt = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = occ.agg(F.count(F.lit(1)).alias("n"))
    bits = F.length(F.bin(F.expr("n DIV c"))) - 1
    doc_bits = (
        occ.join(cnt, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.first("source").alias("source"),
            F.sum(bits).alias("total_bits"),
            F.count(F.lit(1)).alias("n_tok"),
        )
    )
    scored = doc_bits.select(
        "source",
        "doc_id",
        F.expr("(total_bits * 1000) DIV n_tok").alias("avg_bits_milli"),
    )
    win = Window.partitionBy("source").orderBy("avg_bits_milli", "doc_id")
    terciled = scored.withColumn("tercile", F.ntile(3).over(win))
    bucket = (
        F.when(F.col("tercile") == 1, "head")
        .when(F.col("tercile") == 2, "middle")
        .otherwise("tail")
    )
    return terciled.groupBy("source", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("avg_bits_milli").cast("bigint").alias("sum_bits_milli"),
        F.min("avg_bits_milli").cast("bigint").alias("min_bits_milli"),
        F.max("avg_bits_milli").cast("bigint").alias("max_bits_milli"),
    )


# -- mixture scheduling (round 5): exact data-mixing budget -------------------

def mixture_weight(source):
    """Mixture weight from the trailing digits of the source name; a
    digitless name gets default weight 1.  MUST be try_cast: under Spark
    4's default ANSI mode a plain cast of the empty no-match extract
    THROWS instead of yielding NULL, so coalesce(cast(...)) never reaches
    its default (round-6 review finding, reproduced live).  Twin of the
    oracle's COALESCE(TRY_CAST(...), 0) % 5 + 1."""
    return (
        F.coalesce(
            F.regexp_extract(source, r"([0-9]+)$", 1).try_cast("bigint"),
            F.lit(0),
        )
        % 5
        + 1
    )


_MIX_ORACLE = """
WITH avail AS (
  SELECT source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS available_tokens,
         COALESCE(TRY_CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT), 0) % 5 + 1 AS weight_raw
  FROM documents GROUP BY source
),
budget AS (
  SELECT MIN(available_tokens * 60 // weight_raw) AS total_budget FROM avail
)
SELECT source, available_tokens, CAST(weight_raw AS INT) AS weight_raw,
       CAST(total_budget * weight_raw // 60 AS BIGINT) AS scheduled_tokens,
       CAST((total_budget * weight_raw // 60) * 1000 // available_tokens AS BIGINT) AS acceptance_milli,
       CAST(available_tokens * 60 // weight_raw = total_budget AS INT) AS is_binding
FROM avail, budget
"""


@query("q_mixture_schedule", _MIX_ORACLE)
def q_mixture_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data mixture scheduling: given per-source available tokens
    and target mixture weights, the largest total budget that satisfies the
    mixture EXACTLY without repeating data is ``min_i(available_i / w_i)``;
    each source then contributes ``budget * w_i`` tokens and the binding
    source is consumed whole (the DoReMi/weighted-mixing planning step a
    pretraining pipeline runs before sampling).

    All integer arithmetic (weights as small rationals over 60), so the
    schedule is oracle-exact.  Scale shape: one map-side-combined aggregate
    over the corpus to the tiny source dimension, then a 1-row broadcast of
    the budget — corpus size only affects the first aggregate."""
    from ..functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    avail = docs.groupBy("source").agg(
        F.sum(token_count(F.col("text"))).cast("bigint").alias("available_tokens")
    ).withColumn("weight_raw", mixture_weight(F.col("source")))
    # integer division on BOTH engines: double division + bigint cast
    # truncates in Spark but rounds in DuckDB — // and try_divide(floor)
    # keep the schedule exact
    per_source_cap = F.floor(F.col("available_tokens") * 60 / F.col("weight_raw")).cast("bigint")
    capped = avail.withColumn("cap", per_source_cap)
    budget = capped.groupBy().agg(F.min("cap").alias("total_budget"))
    scheduled = F.floor(F.col("total_budget") * F.col("weight_raw") / 60).cast("bigint")
    return capped.crossJoin(F.broadcast(budget)).select(
        "source",
        "available_tokens",
        F.col("weight_raw").cast("int").alias("weight_raw"),
        scheduled.alias("scheduled_tokens"),
        F.floor(scheduled * 1000 / F.col("available_tokens"))
        .cast("bigint")
        .alias("acceptance_milli"),
        (F.col("cap") == F.col("total_budget")).cast("int").alias("is_binding"),
    )


# -- quality threshold sweep (round 5): filter-planning curve -----------------

_QSWEEP_ORACLE = """
WITH per_doc AS (
  SELECT CAST(len(list_distinct(string_split(text, ' '))) * 1000
              // len(string_split(text, ' ')) AS BIGINT) AS distinct_milli,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
buckets AS (
  SELECT LEAST(distinct_milli // 100, 9) AS bucket,
         COUNT(*) AS docs, SUM(n_tokens) AS tokens
  FROM per_doc GROUP BY 1
),
grid AS (SELECT UNNEST(range(10)) AS t),
cum AS (
  SELECT t * 100 AS threshold_milli,
         CAST(COALESCE(SUM(docs), 0) AS BIGINT) AS docs_kept,
         CAST(COALESCE(SUM(tokens), 0) AS BIGINT) AS tokens_kept
  FROM grid LEFT JOIN buckets ON bucket >= t
  GROUP BY t
)
SELECT threshold_milli, docs_kept, tokens_kept,
       CAST(tokens_kept * 1000 // (SELECT SUM(n_tokens) FROM per_doc) AS BIGINT)
         AS tokens_kept_frac_milli
FROM cum
"""


@query("q_quality_threshold_sweep", _QSWEEP_ORACLE)
def q_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-planning curve: documents/tokens surviving each quality
    cutoff (distinct-token ratio in milli, bucketed by 100) — the sweep a
    pipeline runs BEFORE committing to a filter threshold, so the
    data-loss/quality trade-off is measured, not guessed.

    One corpus scan aggregates to 10 buckets; the cumulative curve is a
    10-row self-aggregation (grid join), so corpus size only touches the
    first pass.  Integer-exact throughout (milli ratios, // division)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " ", -1)).cast("bigint")
    distinct_milli = F.floor(
        F.size(F.array_distinct(F.split("text", " ", -1))) * 1000 / toks
    ).cast("bigint")
    per_doc = d.select(
        F.least(F.floor(distinct_milli / 100), F.lit(9)).cast("bigint").alias("bucket"),
        toks.alias("n_tokens"),
    )
    buckets = per_doc.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("docs"), F.sum("n_tokens").alias("tokens")
    )
    total = per_doc.groupBy().agg(F.sum("n_tokens").alias("total_tokens"))
    grid = spark.range(10).select(F.col("id").alias("t"))
    cum = (
        grid.join(F.broadcast(buckets), F.col("bucket") >= F.col("t"), "left")
        .groupBy("t")
        .agg(
            F.coalesce(F.sum("docs"), F.lit(0)).cast("bigint").alias("docs_kept"),
            F.coalesce(F.sum("tokens"), F.lit(0)).cast("bigint").alias("tokens_kept"),
        )
    )
    return cum.crossJoin(F.broadcast(total)).select(
        (F.col("t") * 100).cast("bigint").alias("threshold_milli"),
        "docs_kept",
        "tokens_kept",
        F.floor(F.col("tokens_kept") * 1000 / F.col("total_tokens"))
        .cast("bigint")
        .alias("tokens_kept_frac_milli"),
    )


# -- packing efficiency (round 5): context-length planning --------------------

_PACK_EFF_LENS = [128, 512, 2048]

_PACK_EFF_ORACLE = "\nUNION ALL\n".join(
    f"""
SELECT {L} AS max_len,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM((n_tokens + {L} - 1) // {L}) AS BIGINT) AS n_sequences,
       CAST((SUM((n_tokens + {L} - 1) // {L}) * {L} - SUM(n_tokens)) * 1000
            // (SUM((n_tokens + {L} - 1) // {L}) * {L}) AS BIGINT) AS padding_waste_milli
FROM (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents)
"""
    for L in _PACK_EFF_LENS
)


@query("q_packing_efficiency", _PACK_EFF_ORACLE)
def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length planning: for candidate max_seq_len values, the
    sequence count and padding waste under per-document chunking
    (ceil(tokens/L) sequences per doc, the pad-don't-concat regime) — the
    measurement that picks L before a packing run (q_pack_sequences packs;
    this plans).  One scan, three conditional aggregates, integer-exact."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " ", -1)).cast("bigint")
    per_doc = d.select(toks.alias("n_tokens"))
    out = None
    for L in _PACK_EFF_LENS:
        seqs = F.sum(F.floor((F.col("n_tokens") + L - 1) / L)).cast("bigint")
        agg = per_doc.groupBy().agg(
            F.lit(L).cast("bigint").alias("max_len"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            seqs.alias("n_sequences"),
        )
        row = agg.select(
            "max_len", "n_docs", "total_tokens", "n_sequences",
            F.floor(
                (F.col("n_sequences") * L - F.col("total_tokens")) * 1000
                / (F.col("n_sequences") * L)
            ).cast("bigint").alias("padding_waste_milli"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# -- concat-then-chunk packing (the zero-padding pretraining layout) -----------
# The third packing regime alongside q_packing_efficiency (pad-per-doc
# planning) and q_pack_sequences (greedy whole-doc bins): concatenate each
# source's token stream in doc_id order and cut fixed-size bins ANYWHERE,
# docs crossing bin boundaries — zero padding by construction, the layout
# GPT-style pretraining actually trains on.  The interesting part is the
# running offset: a naive per-source window cumsum sorts every document of
# a source in ONE partition (sources are few -> maximal skew at 100 TB), so
# the offsets here come from a two-level parallel prefix sum instead:
# coarse doc_id range buckets get per-(source, bucket) token subtotals (a
# small agg), the tiny subtotal frame takes the window cumsum, and the
# exclusive bucket offsets broadcast back so the big frame only needs a
# window WITHIN its (source, bucket) — bounded work per partition, no
# single-partition sort anywhere.

_CC_BIN = 64
_CC_BUCKET = 1_000  # doc_id range per prefix-sum bucket

_CC_ORACLE = f"""
WITH t AS (
  SELECT source, doc_id, len(string_split(text, ' ')) AS tok FROM documents
),
s AS (
  SELECT source, doc_id, tok,
         COALESCE(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
  FROM t
),
x AS (
  SELECT source, st, st + tok AS en, b
  FROM s, LATERAL (SELECT unnest(generate_series(CAST(st // {_CC_BIN} AS BIGINT),
                                 CAST((st + tok - 1) // {_CC_BIN} AS BIGINT)))) t2(b)
)
SELECT source, CAST(b AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN st // {_CC_BIN} = b THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
       CAST(SUM(LEAST(en, (b + 1) * {_CC_BIN}) - GREATEST(st, b * {_CC_BIN})) AS BIGINT)
         AS n_tokens
FROM x GROUP BY source, b
"""


def concat_chunk_bins(
    d: DataFrame, bin_size: int = _CC_BIN, bucket: int = _CC_BUCKET
) -> DataFrame:
    """The concat-then-chunk manifest over any (source, doc_id, text) frame
    — extracted so synthetic-frame tests can drive shapes the testdata
    never produces (docs spanning 3+ bins, sparse doc_id gaps)."""
    toks = F.size(F.split("text", " ", -1)).cast("bigint")
    base = d.select(
        "source",
        "doc_id",
        toks.alias("tok"),
        (F.col("doc_id") / bucket).cast("bigint").alias("bkt"),
    )

    # level 1: per-(source, bucket) subtotals -> exclusive bucket offsets
    # (tiny frame: sources x buckets rows), broadcast back
    sub = base.groupBy("source", "bkt").agg(F.sum("tok").alias("bkt_tok"))
    w_bkt = (
        Window.partitionBy("source")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sub.select(
        "source",
        "bkt",
        F.coalesce(F.sum("bkt_tok").over(w_bkt), F.lit(0)).alias("bkt_off"),
    )

    # level 2: window cumsum only WITHIN (source, bucket)
    w_in = (
        Window.partitionBy("source", "bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = (
        base.join(F.broadcast(offsets), ["source", "bkt"])
        .select(
            "source",
            "tok",
            (
                F.col("bkt_off")
                + F.coalesce(F.sum("tok").over(w_in), F.lit(0))
            ).alias("st"),
        )
        .withColumn("en", F.col("st") + F.col("tok"))
    )

    binned = spans.select(
        "source",
        "st",
        "en",
        F.explode(
            F.sequence(
                F.floor(F.col("st") / bin_size),
                F.floor((F.col("en") - 1) / bin_size),
            )
        ).alias("bin"),
    )
    lo = F.col("bin") * bin_size
    hi = (F.col("bin") + 1) * bin_size
    return binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.floor(F.col("st") / bin_size) == F.col("bin"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_starts"),
        F.sum(F.least(F.col("en"), hi) - F.greatest(F.col("st"), lo))
        .cast("bigint")
        .alias("n_tokens"),
    )


@query("q_concat_chunk_bins", _CC_ORACLE)
def q_concat_chunk_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk bin manifest per (source, bin): documents touching
    the bin, documents starting in it, and its token fill (== bin size for
    every bin but each source's last — the zero-padding invariant, asserted
    by the oracle).  Offsets via the two-level parallel prefix sum described
    above; the oracle derives identical offsets with a plain global window,
    proving the decomposition exact."""
    return concat_chunk_bins(load_table(spark, sf_dir, "documents"))
