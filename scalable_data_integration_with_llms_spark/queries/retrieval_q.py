"""Retrieval + data-selection operators for training-corpus curation:
substring-level duplicate-span detection, BM25 top-k retrieval over the
corpus, and hashed-n-gram importance scoring for domain-targeted data
selection (the DSIR recipe shape).

These extend the engine's dedup/text stack (SURVEY §7 step 11 — additive
beyond the reference) with the three retrieval-shaped operations a 100 TB
pipeline runs next to MinHash dedup:

* **duplicate spans** — token-window rolling dedup à la "train-data dedup at
  the substring level": find maximal runs of W-token windows that recur in
  ≥2 documents.  The published recipe uses a suffix array; the distributed
  re-expression is window-hash → document-frequency filter → per-doc
  gaps-and-islands merge, which is one groupBy + one semi-join + one
  doc-partitioned window — every shuffle key is either a 128-bit hash
  (uniform) or a doc id (bounded by doc length).
* **BM25 top-k** — query-literal retrieval over the same token stream the
  inverted index (q_inverted_index) is built from.  Scoring is the exact
  BM25 rational form with k1 = 1.2, b = 0.75 cleared of floats:
  tf-part = 22·tf·L / (10·tf·L + 3·L + 9·dl·N) and
  idf_q = (2·(N−df)+1)·10⁶ // (2·df+1), both in bigint, so Spark and the
  DuckDB oracle rank identically (a float log() differs in ulps across
  engines — the same discipline as q_tfidf_top_terms / q_source_drift).
* **domain affinity** — hashed-bigram importance weights
  w(b) = P_target(b)/P_corpus(b) with add-one smoothing over 4096 md5
  buckets, evaluated per document and used to select the top documents for
  a target domain.  The bucket-weight table is 4096 rows by construction —
  a broadcast dimension — so the per-doc pass is scan + broadcast join +
  groupBy(doc), shuffling only (doc, partial-sum) rows.

All arithmetic is integer-exact (functions/determinism.py discipline):
md5-derived bucketing, bigint rational scores via `div`, so each query has
a full DuckDB value oracle.  Int64 headroom notes live on each query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..functions.determinism import hash60, hash60_sql
from ..functions.text import ngram_structs
from ..operators.dedup import SPAN_W, duplicate_spans, span_tokens, span_windows
from ..operators.similarity import quantize
from ..sources.readers import load_table
from .registry import query
from ..functions.localframe import local_df

# -- substring-level duplicate spans ------------------------------------------
# W is operators/dedup.SPAN_W (12 tokens for the synthetic corpus) — a
# constant, not a semantic.

_SPAN_ORACLE = f"""
WITH arrs AS (
  SELECT doc_id, string_split(text, ' ') AS arr FROM documents
),
wins AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(arr[i:i + {SPAN_W} - 1], ' ')) AS h
  FROM arrs,
       LATERAL (SELECT unnest(generate_series(
                 1, greatest(len(arr) - {SPAN_W} + 1, 0))) AS i) t(i)
),
dup AS (
  SELECT h FROM (SELECT DISTINCT h, doc_id FROM wins)
  GROUP BY h HAVING COUNT(*) >= 2
),
hits AS (
  SELECT doc_id, pos FROM wins WHERE h IN (SELECT h FROM dup)
),
isl AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits
)
SELECT doc_id,
       MIN(pos) AS span_start,
       MAX(pos) + {SPAN_W} - 1 AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_windows
FROM isl GROUP BY doc_id, grp
"""


@query("q_duplicate_spans", _SPAN_ORACLE)
def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token spans: every run of consecutive positions
    whose W-token windows each appear in at least two documents.

    Plan: window-hash stream (JVM split/slice/md5, no UDF) → distinct
    (hash, doc) → df ≥ 2 filter → semi-join back on the hash → per-doc
    gaps-and-islands (pos − row_number) → span aggregate.  The semi-join's
    build side is the duplicated-hash set — corpus boilerplate — which AQE
    broadcasts when small; the probe side never reships window text, only
    (doc, pos, 128-bit hash).  The only window function runs partitioned by
    doc (bounded by document length), never globally."""
    d = load_table(spark, sf_dir, "documents")
    return duplicate_spans(d).withColumnRenamed("doc", "doc_id")


# -- BM25 top-k retrieval -----------------------------------------------------
# Fixed query literals (terms present across the synthetic vocabulary); the
# operator shape is query-independent.  k1 = 1.2, b = 0.75 cleared to the
# integer rational form derived in the module docstring.  Int64 headroom:
# idf_q ≤ 2e6·N and tfpart_q ≤ 22000, so score_q ≤ 4.4e10·N — safe to
# N ≈ 2e8 documents per retrieval partition; beyond that, lower the idf
# QUANT or score per shard.

_BM25_TERMS = ("spark", "window", "stream")
_BM25_K = 10

_BM25_TERMS_SQL = ", ".join(f"('{t}')" for t in _BM25_TERMS)

_BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
dl AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS total_len
  FROM dl
),
qterms(token) AS (VALUES {_BM25_TERMS_SQL}),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE token IN (SELECT token FROM qterms)
  GROUP BY doc_id, token
),
dfreq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
),
scored AS (
  SELECT tf.doc_id,
         ((2 * (s.n_docs - dfreq.df) + 1) * 1000000 // (2 * dfreq.df + 1))
         * ((22 * tf.tf * s.total_len * 1000)
            // (10 * tf.tf * s.total_len + 3 * s.total_len
                + 9 * dl.dl * s.n_docs)) AS term_score
  FROM tf
  JOIN dfreq USING (token)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
)
SELECT doc_id,
       CAST(SUM(term_score) AS BIGINT) AS score_q,
       CAST(COUNT(*) AS BIGINT) AS n_terms
FROM scored GROUP BY doc_id
ORDER BY score_q DESC, doc_id ASC
LIMIT {_BM25_K}
"""


def _bm25_frames(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(bm25 doc scores, per-(doc, term) tf) for the fixed query literals —
    shared by q_bm25_topk and the RRF fusion query.

    Plan: one token scan feeds both the doc-length aggregate and the
    term-filtered tf aggregate (the filter `token IN (...)` is pushed to the
    scan side of the tf branch, so the expensive groupBy only sees matching
    rows).  df and the (N, L) corpus stats are tiny aggregates — broadcast
    to the scoring join."""
    toks = d.select("doc_id", F.explode(F.split("text", " ", -1)).alias("token"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    tf = (
        toks.filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(
                "((2 * (n_docs - df) + 1) * 1000000 div (2 * df + 1))"
                " * ((22 * tf * total_len * 1000)"
                "    div (10 * tf * total_len + 3 * total_len"
                "         + 9 * dl * n_docs))"
            ).alias("term_score"),
        )
    )
    doc_scores = scored.groupBy("doc_id").agg(
        F.sum("term_score").alias("score_q"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    return doc_scores, tf


@query("q_bm25_topk", _BM25_ORACLE)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k document retrieval for a literal term query.

    The final top-k is orderBy().limit() = TakeOrderedAndProject:
    per-partition heap, no global sort (plan notes in _bm25_frames)."""
    d = load_table(spark, sf_dir, "documents")
    doc_scores, _ = _bm25_frames(d)
    return doc_scores.orderBy(F.desc("score_q"), F.asc("doc_id")).limit(_BM25_K)


# -- reciprocal-rank fusion (hybrid retrieval) --------------------------------
# The standard combiner for heterogeneous retrieval stacks (RRF, SIGIR'09;
# every hybrid lexical+vector RAG pipeline ships it): fuse the BM25 ranking
# with a second, independent scorer of the same corpus — here the raw
# query-term-frequency ranking — via score(d) = Σ_sources 1/(60 + rank_s(d)).
# Exactness: both source scores are integer-exact, so the depth-capped ranks
# are engine-stable; the fused score is a 2-term scalar expression (see
# operators/similarity.rrf_fuse), bit-identical in DuckDB.  Scale shape:
# each arm ends in TakeOrdered(depth); the fusion joins two depth-row
# frames and the final window ranks <= 2·depth rows in one tiny task.

_RRF_DEPTH = 30
_RRF_K = 60
_RRF_TOP = 15

_RRF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
dl AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS total_len
  FROM dl
),
qterms(token) AS (VALUES {_BM25_TERMS_SQL}),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE token IN (SELECT token FROM qterms)
  GROUP BY doc_id, token
),
dfreq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
),
scored AS (
  SELECT tf.doc_id,
         ((2 * (s.n_docs - dfreq.df) + 1) * 1000000 // (2 * dfreq.df + 1))
         * ((22 * tf.tf * s.total_len * 1000)
            // (10 * tf.tf * s.total_len + 3 * s.total_len
                + 9 * dl.dl * s.n_docs)) AS term_score
  FROM tf
  JOIN dfreq USING (token)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
),
bm_top AS (
  SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS score_q
  FROM scored GROUP BY doc_id
  ORDER BY score_q DESC, doc_id ASC LIMIT {_RRF_DEPTH}
),
bm_rank AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score_q DESC, doc_id ASC) AS INT)
           AS rank_0
  FROM bm_top
),
tf_top AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tf_total
  FROM tf GROUP BY doc_id
  ORDER BY tf_total DESC, doc_id ASC LIMIT {_RRF_DEPTH}
),
tf_rank AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY tf_total DESC, doc_id ASC) AS INT)
           AS rank_1
  FROM tf_top
),
fused AS (
  SELECT COALESCE(b.doc_id, t.doc_id) AS doc_id, b.rank_0, t.rank_1,
         COALESCE(1.0::DOUBLE / ({_RRF_K} + b.rank_0), 0.0::DOUBLE)
           + COALESCE(1.0::DOUBLE / ({_RRF_K} + t.rank_1), 0.0::DOUBLE)
           AS rrf_score
  FROM bm_rank b FULL OUTER JOIN tf_rank t ON b.doc_id = t.doc_id
)
SELECT doc_id, rank_0 AS bm25_rank, rank_1 AS tf_rank, rrf_score,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS INT)
         AS fused_rank
FROM fused
ORDER BY fused_rank LIMIT {_RRF_TOP}
"""


@query("q_rrf_fusion", _RRF_ORACLE)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.similarity import rrf_fuse

    d = load_table(spark, sf_dir, "documents")
    doc_scores, tf = _bm25_frames(d)
    # each arm: TakeOrdered(depth) first, THEN row_number on the <= depth
    # survivors — the single-partition window only ever sees depth rows
    bm_top = doc_scores.orderBy(F.desc("score_q"), F.asc("doc_id")).limit(
        _RRF_DEPTH
    )
    bm_win = W.partitionBy(F.lit(0)).orderBy(F.desc("score_q"), F.asc("doc_id"))
    bm_rank = bm_top.select(
        "doc_id", F.row_number().over(bm_win).alias("rank")
    )
    tf_total = tf.groupBy("doc_id").agg(F.sum("tf").alias("tf_total"))
    tf_top = tf_total.orderBy(F.desc("tf_total"), F.asc("doc_id")).limit(
        _RRF_DEPTH
    )
    tf_win = W.partitionBy(F.lit(0)).orderBy(
        F.desc("tf_total"), F.asc("doc_id")
    )
    tf_rank = tf_top.select(
        "doc_id", F.row_number().over(tf_win).alias("rank")
    )
    fused = rrf_fuse([bm_rank, tf_rank], "doc_id", k=_RRF_K)
    out_win = W.partitionBy(F.lit(0)).orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    return (
        fused.select(
            "doc_id",
            F.col("rank_0").alias("bm25_rank"),
            F.col("rank_1").alias("tf_rank"),
            "rrf_score",
            F.row_number().over(out_win).alias("fused_rank"),
        )
        .orderBy("fused_rank")
        .limit(_RRF_TOP)
    )


# -- hashed-n-gram domain affinity (DSIR-shaped data selection) ---------------
# Importance weights over hashed bigram buckets: w(b) = P_target(b) /
# P_corpus(b) with add-one smoothing, target = the English slice of the
# corpus.  The published DSIR estimator ranks documents by the mean log
# importance of their hashed n-grams and resamples; the engine keeps the
# rational (log-free) form — mean of QUANT·w(b) over a doc's bigram
# occurrences — which induces the same engine-stable ordering discipline as
# q_source_drift's χ².  Int64 headroom: the bucket weight table is built
# from corpus-level counts ((c_t+1)·(N_r+B)·10⁶ ≈ 1e4·c_t·N_r), safe while
# c_t·N_r < 9e14 — i.e. per-shard stats at 100 TB, or DECIMAL(38,0) for the
# 4096-row weight build (the per-doc pass only sums ≤ QUANT·4096-scaled
# bigints and is never at risk).

_AFF_BUCKETS = 4096
_AFF_QUANT = 1_000_000
_AFF_TARGET_LANG = "en"
_AFF_K = 50

_AFF_ORACLE = f"""
WITH arrs AS (
  SELECT doc_id, lang, string_split(text, ' ') AS arr FROM documents
),
bg AS (
  SELECT doc_id, lang,
         {hash60_sql("arr[i] || ' ' || arr[i + 1]")}
           % {_AFF_BUCKETS} AS bucket
  FROM arrs,
       LATERAL (SELECT unnest(generate_series(1, len(arr) - 1)) AS i) t(i)
  WHERE len(arr) >= 2
),
counts AS (
  SELECT bucket,
         CAST(COUNT(*) AS BIGINT) AS c_r,
         CAST(SUM(CASE WHEN lang = '{_AFF_TARGET_LANG}' THEN 1 ELSE 0 END)
              AS BIGINT) AS c_t
  FROM bg GROUP BY bucket
),
totals AS (
  SELECT CAST(SUM(c_r) AS BIGINT) AS n_r, CAST(SUM(c_t) AS BIGINT) AS n_t
  FROM counts
),
weights AS (
  SELECT bucket,
         (c_t + 1) * (n_r + {_AFF_BUCKETS}) * {_AFF_QUANT}
           // ((c_r + 1) * (n_t + {_AFF_BUCKETS})) AS w_q
  FROM counts CROSS JOIN totals
),
docsum AS (
  SELECT bg.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(w.w_q) AS BIGINT) AS sum_w
  FROM bg JOIN weights w USING (bucket)
  GROUP BY bg.doc_id
)
SELECT doc_id, n_bigrams, sum_w // n_bigrams AS affinity_q
FROM docsum
ORDER BY affinity_q DESC, doc_id ASC
LIMIT {_AFF_K}
"""


@query("q_domain_affinity", _AFF_ORACLE)
def q_domain_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents by hashed-bigram importance weight for a target
    domain (DSIR-shaped data selection, rational form).

    Plan: the bigram-occurrence stream is computed once (JVM transform over
    the split array — no UDF, no pre-distinct since DSIR counts
    occurrences); bucket counts aggregate to ≤4096 rows, so the weight
    table broadcasts into the per-doc scoring join — the only real shuffle
    is the per-doc sum, keyed by doc_id.  Selection is
    TakeOrderedAndProject, not a global sort."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ", -1)
    d = d.select("doc_id", "lang", words.alias("w")).filter(F.size("w") >= 2)
    bucket = hash60(F.col("bg")) % _AFF_BUCKETS
    # zipped-slice bigrams (functions/text.ngram_structs): explode the
    # structs and concat row-level so the scan→explode→md5-bucket pipeline
    # stays in whole-stage codegen (no interpreted HOF per doc)
    bg = (
        d.select("doc_id", "lang", F.explode(ngram_structs(F.col("w"), 2)).alias("p"))
        .select(
            "doc_id",
            "lang",
            F.concat_ws(" ", F.col("p")["0"], F.col("p")["1"]).alias("bg"),
        )
        .select("doc_id", "lang", bucket.alias("bucket"))
    )
    counts = bg.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_r"),
        F.sum(
            F.when(F.col("lang") == _AFF_TARGET_LANG, 1).otherwise(0)
        ).alias("c_t"),
    )
    totals = counts.agg(
        F.sum("c_r").alias("n_r"), F.sum("c_t").alias("n_t")
    )
    weights = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.expr(
            f"(c_t + 1) * (n_r + {_AFF_BUCKETS}) * {_AFF_QUANT}"
            f" div ((c_r + 1) * (n_t + {_AFF_BUCKETS}))"
        ).alias("w_q"),
    )
    docsum = (
        bg.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("w_q").alias("sum_w"),
        )
    )
    return (
        docsum.select(
            "doc_id",
            "n_bigrams",
            F.expr("sum_w div n_bigrams").alias("affinity_q"),
        )
        .orderBy(F.desc("affinity_q"), F.asc("doc_id"))
        .limit(_AFF_K)
    )


# -- duplicate-span REMOVAL (the rewrite consumer of q_duplicate_spans) -------
# Policy: per duplicated window (df ≥ 2 docs), the min-doc_id doc owns the
# text; every other doc cuts the tokens its foreign windows cover.  This is
# the "remove all but one occurrence" substring-dedup rewrite: ownership is
# decided per window hash (deterministic, no coordination), coverage is the
# union of cut windows per doc, and the cleaned text is re-assembled from
# the surviving token positions.  Emitted as (n_tokens, n_removed,
# md5(cleaned_text)) per affected doc so the oracle pins the exact rewrite.

_STRIP_ORACLE = f"""
WITH arrs AS (
  SELECT doc_id, string_split(text, ' ') AS arr FROM documents
),
wins AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(arr[i:i + {SPAN_W} - 1], ' ')) AS h
  FROM arrs,
       LATERAL (SELECT unnest(generate_series(
                 1, greatest(len(arr) - {SPAN_W} + 1, 0))) AS i) t(i)
),
owners AS (
  SELECT h, MIN(doc_id) AS owner, COUNT(DISTINCT doc_id) AS df
  FROM wins GROUP BY h
),
foreign_hits AS (
  SELECT w.doc_id, w.pos FROM wins w JOIN owners o USING (h)
  WHERE o.df >= 2 AND o.owner < w.doc_id
),
covered AS (
  SELECT DISTINCT doc_id, tokpos
  FROM foreign_hits,
       LATERAL (SELECT unnest(generate_series(pos, pos + {SPAN_W} - 1))
                AS tokpos) t(tokpos)
),
toks AS (
  SELECT doc_id, i AS tokpos, arr[i] AS tok
  FROM arrs, LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i) t(i)
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN c.tokpos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       md5(COALESCE(string_agg(
             CASE WHEN c.tokpos IS NULL THEN t.tok END,
             ' ' ORDER BY t.tokpos), '')) AS cleaned_hash
FROM toks t LEFT JOIN covered c USING (doc_id, tokpos)
GROUP BY t.doc_id
HAVING SUM(CASE WHEN c.tokpos IS NOT NULL THEN 1 ELSE 0 END) > 0
"""


@query("q_strip_duplicate_spans", _STRIP_ORACLE)
def q_strip_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-dedup rewrite: cut every token covered by a window whose
    hash also occurs in an earlier (min-doc_id owner) document, re-assemble
    the surviving text, and report (n_tokens, n_removed, md5(cleaned)) per
    affected doc.

    Plan: the window-hash stream feeds one groupBy(h) for (owner, df);
    foreign hits join back on the hash (uniform 128-bit key), explode to
    covered token positions (bounded ×W fan-out), distinct, and left-join
    the token stream on (doc, tokpos) — both sides uniform.  Text
    re-assembly is array_sort(collect_list(struct(pos, tok))) per doc —
    bounded by document length, never a global sort."""
    base = span_tokens(load_table(spark, sf_dir, "documents"))
    wins = span_windows(base)
    owners = wins.groupBy("h").agg(
        F.min("doc").alias("owner"),
        F.count_distinct("doc").alias("df"),
    )
    foreign = (
        wins.join(owners, "h")
        .filter((F.col("df") >= 2) & (F.col("owner") < F.col("doc")))
        .select("doc", "pos")
    )
    covered = foreign.select(
        "doc",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + SPAN_W - 1)
        ).alias("tokpos"),
    ).distinct()
    toks = base.select(
        "doc", F.posexplode("w").alias("i", "tok")
    ).select("doc", (F.col("i") + 1).alias("tokpos"), "tok")
    joined = toks.join(covered, ["doc", "tokpos"], "left_outer").select(
        "doc",
        "tokpos",
        "tok",
        covered["tokpos"].isNotNull().alias("removed"),
    )
    kept_struct = F.when(
        ~F.col("removed"), F.struct(F.col("tokpos"), F.col("tok"))
    )
    return (
        joined.groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("removed").cast("long")).alias("n_removed"),
            F.md5(
                F.coalesce(
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(kept_struct)),
                            lambda s: s.tok,
                        ),
                        " ",
                    ),
                    F.lit(""),
                )
            ).alias("cleaned_hash"),
        )
        .filter(F.col("n_removed") > 0)
        .withColumnRenamed("doc", "doc_id")
    )


# -- context-window chunking for training prep --------------------------------
# Non-overlapping fixed-size token chunks (stride = chunk size, the standard
# pretraining layout); a partial tail chunk survives only at ≥ the minimum.
# Pure array arithmetic (sequence stepping by the chunk size + slice) — the
# fan-out per doc is len/chunk rows, each carrying only (idx, count, hash).

_CHUNK_SIZE = 32
_CHUNK_MIN_TAIL = 8

_CHUNK_ORACLE = f"""
WITH arrs AS (
  SELECT doc_id, string_split(text, ' ') AS arr FROM documents
),
chunks AS (
  SELECT doc_id,
         (s - 1) // {_CHUNK_SIZE} AS chunk_idx,
         least({_CHUNK_SIZE}, len(arr) - s + 1) AS n_tokens,
         md5(array_to_string(arr[s:least(s + {_CHUNK_SIZE} - 1, len(arr))], ' '))
           AS chunk_hash
  FROM arrs,
       LATERAL (SELECT unnest(generate_series(1, len(arr), {_CHUNK_SIZE}))
                AS s) t(s)
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(n_tokens AS BIGINT) AS n_tokens, chunk_hash
FROM chunks
WHERE n_tokens = {_CHUNK_SIZE} OR n_tokens >= {_CHUNK_MIN_TAIL}
"""


@query("q_token_chunks", _CHUNK_ORACLE)
def q_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window chunking of documents into training-context pieces:
    (doc_id, chunk_idx, n_tokens, md5(chunk)).  Map-only — split, stepped
    sequence, slice, hash; no shuffle at all (the plan is scan → generate →
    project), which is the correct shape for a 100 TB chunking pass: it
    pipelines straight into the shard writer."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ", -1)
    base = d.select("doc_id", words.alias("w"))
    chunks = base.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("w"), F.lit(_CHUNK_SIZE))
        ).alias("s"),
        "w",
    ).select(
        "doc_id",
        ((F.col("s") - 1) / _CHUNK_SIZE).cast("bigint").alias("chunk_idx"),
        F.least(F.lit(_CHUNK_SIZE), F.size("w") - F.col("s") + 1)
        .cast("bigint")
        .alias("n_tokens"),
        F.md5(
            F.concat_ws(" ", F.slice("w", F.col("s"), _CHUNK_SIZE))
        ).alias("chunk_hash"),
    )
    return chunks.filter(
        (F.col("n_tokens") == _CHUNK_SIZE)
        | (F.col("n_tokens") >= _CHUNK_MIN_TAIL)
    )


# -- deterministic train/val/test split ---------------------------------------
# Hash-threshold assignment: split(doc) = md5('split42:' || doc_id) mod 1000
# against 800/100/100 per-mille cut points.  Unlike a per-stratum ranked
# window (exact proportions but a per-stratum sort), the hash threshold is
# MAP-ONLY — no shuffle to assign, proportions concentrate at corpus scale
# (Chernoff), assignment is stable under reruns/retries/engine choice, and
# adding documents never reassigns existing ones (the property that keeps
# eval sets uncontaminated across corpus versions).

_SPLIT_SEED = "split42:"
_SPLIT_TRAIN_PM = 800
_SPLIT_VAL_PM = 900

_SPLIT_ORACLE = f"""
WITH assigned AS (
  SELECT lang, n_chars, doc_id,
         {hash60_sql(f"'{_SPLIT_SEED}' || doc_id")}
           % 1000 AS pm
  FROM documents
)
SELECT lang,
       CASE WHEN pm < {_SPLIT_TRAIN_PM} THEN 'train'
            WHEN pm < {_SPLIT_VAL_PM} THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM assigned GROUP BY 1, 2
"""


@query("q_train_val_split", _SPLIT_ORACLE)
def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment audit per language:
    the split column is a pure map-side expression (md5 threshold), so the
    only shuffle is the audit rollup itself — the assignment fuses into any
    downstream writer at zero cost."""
    d = load_table(spark, sf_dir, "documents")
    pm = hash60(F.concat(F.lit(_SPLIT_SEED), F.col("doc_id"))) % 1000
    split = (
        F.when(pm < _SPLIT_TRAIN_PM, "train")
        .when(pm < _SPLIT_VAL_PM, "val")
        .otherwise("test")
    )
    return (
        d.select("lang", split.alias("split"), "n_chars", "doc_id")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# -- k-center greedy coreset (diversity sampling) -----------------------------
# Farthest-point (Gonzalez) selection: start from the lowest-id vector, then
# repeatedly take the vector MAXIMIZING its distance to the nearest already-
# chosen one — the classic 2-approximation to the k-center problem and the
# standard diversity-coreset picker for training-data curation (cover the
# embedding space with k exemplars).
#
# Scale shape: the state is one bigint column (running min-distance to the
# chosen set) carried by the corpus frame; each of the k-1 rounds is
# (a) a TakeOrderedAndProject argmax (per-partition heaps, no global sort)
# and (b) a map-only column update against the newly chosen vector
# broadcast as a literal.  The driver holds only the k chosen rows — the
# corpus is never collected.  k is small by definition (exemplar count).
#
# Exactness: components quantize to bigint (similarity.quantize, at 1e7)
# before squared distances, so the argmax and every reported distance are
# integer arithmetic; ties break on vec_id.  The oracle unrolls the same k
# rounds as a CTE chain.

_KCENTER_K = 6
_KC_QV = (
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000000, 0) AS BIGINT))"
)


def _kc_dist(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


def _kcenter_oracle(k: int) -> str:
    parts = [f"WITH v AS (SELECT vec_id, {_KC_QV} AS qv FROM embeddings)"]
    parts.append(", c0 AS (SELECT vec_id, qv FROM v ORDER BY vec_id LIMIT 1)")
    parts.append(
        ", m0 AS (SELECT v.vec_id, v.qv, "
        + _kc_dist("v.qv", "c.qv")
        + " AS mind2 FROM v, c0 c WHERE v.vec_id <> c.vec_id)"
    )
    for r in range(1, k):
        prev_m = f"m{r - 1}"
        parts.append(
            f", c{r} AS (SELECT vec_id, qv, mind2 FROM {prev_m}"
            f" ORDER BY mind2 DESC, vec_id ASC LIMIT 1)"
        )
        if r < k - 1:
            parts.append(
                f", m{r} AS (SELECT m.vec_id, m.qv,"
                f" LEAST(m.mind2, {_kc_dist('m.qv', 'c.qv')}) AS mind2"
                f" FROM {prev_m} m, c{r} c WHERE m.vec_id <> c.vec_id)"
            )
    selects = ["SELECT 1 AS sel_rank, vec_id, CAST(NULL AS BIGINT) AS mind2_q FROM c0"]
    for r in range(1, k):
        selects.append(f"SELECT {r + 1}, vec_id, CAST(mind2 AS BIGINT) FROM c{r}")
    parts.append(" " + " UNION ALL ".join(selects))
    return "\n".join(parts)


@query("q_kcenter_coreset", _kcenter_oracle(_KCENTER_K))
def q_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.transform(F.col("embedding"), lambda x: quantize(x))
    v = scoped_persist(emb.select("vec_id", qv.alias("qv")))

    def d2_to(vec: list) -> F.Column:
        const = F.array(*[F.lit(int(x)).cast("bigint") for x in vec])
        return F.aggregate(
            F.zip_with(F.col("qv"), const, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    seed = v.orderBy(F.asc("vec_id")).limit(1).collect()[0]
    picked = [(1, seed.vec_id, None)]
    cur = v.filter(F.col("vec_id") != seed.vec_id).withColumn(
        "mind2", d2_to(seed.qv)
    )
    for r in range(2, _KCENTER_K + 1):
        top = cur.orderBy(F.desc("mind2"), F.asc("vec_id")).limit(1).collect()[0]
        picked.append((r, top.vec_id, top.mind2))
        if r < _KCENTER_K:
            cur = cur.filter(F.col("vec_id") != top.vec_id).withColumn(
                "mind2", F.least(F.col("mind2"), d2_to(top.qv))
            )
    return local_df(spark, 
        picked, "sel_rank int, vec_id bigint, mind2_q bigint"
    )
