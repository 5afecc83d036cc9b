"""Similarity-search surface over ``embeddings``: exact, IVF, LSH and PQ
top-k, their recall harnesses, k-means/SemDeDup and hard-negative mining.
Each stage (side projection, pair scoring, top-k, recall@k, quantized
dimensions) is one function in operators/similarity.py or
operators/clustering.py; the queries here choose the join shape.  Dot
products are bit-identical to DuckDB's list_dot_product on DOUBLE[]
(sequential fold), so results are oracle-checked with no tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..functions.determinism import hash60, hash60_sql
from ..operators.clustering import (
    kmeans_assign,
    kmeans_iteration_stats,
    label_centroid_arrays,
)
from ..operators.similarity import (
    cosine,
    cosine_topk,
    cosine_with_norms,
    dequantized_mean,
    hyperplane_signature,
    ivf_topk,
    keep_top_k,
    lsh_topk,
    norm,
    pq_adc_topk,
    pq_codes,
    quantize,
    quantized_dims,
    recall_at_k,
    score_pairs,
    vector_side,
)
from ..sources.readers import load_table
from .registry import query

_N_QUERIES = 8
_K = 5

_COS_EXPR = (
    "list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])))"
)

_TOPK_ORACLE = f"""
SELECT query_id, neighbor_id, cos_sim, sim_rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_COS_EXPR} AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
                            ORDER BY {_COS_EXPR} DESC, c.vec_id ASC) AS sim_rank
  FROM embeddings q CROSS JOIN embeddings c
  WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id
) WHERE sim_rank <= {_K}
"""


@query("q_cosine_topk", _TOPK_ORACLE)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return cosine_topk(queries, emb, _K)


_IVF_ORACLE = f"""
SELECT query_id, neighbor_id, cos_sim, sim_rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_COS_EXPR} AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
                            ORDER BY {_COS_EXPR} DESC, c.vec_id ASC) AS sim_rank
  FROM embeddings q JOIN embeddings c ON q.label = c.label
  WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id
) WHERE sim_rank <= {_K}
"""


@query("q_ann_ivf", _IVF_ORACLE)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return ivf_topk(queries, emb, _K)


# -- embedding-cosine near-dup pairs (dedup family, north star) --------------

_NEAR_DUP_TAU = 0.92

_NEAR_DUP_ORACLE = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {_COS_EXPR.replace('q.', 'a.').replace('c.', 'b.')} AS cos_sim
FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_COS_EXPR.replace('q.', 'a.').replace('c.', 'b.')} >= {_NEAR_DUP_TAU}
"""


@query("q_embedding_near_dup", _NEAR_DUP_ORACLE)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, IVF-restricted to the same
    coarse partition (label) so the candidate set is an equi-join, not a
    cross join — the scale path for embedding dedup."""
    emb = load_table(spark, sf_dir, "embeddings")
    with_norm = emb.withColumn("v_norm", norm(F.col("embedding")))
    a = with_norm.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"),
        F.col("v_norm").alias("na"), "label",
    )
    b = with_norm.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"),
        F.col("v_norm").alias("nb"), "label",
    )
    return (
        a.join(b, "label")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a", "vec_b",
            cosine_with_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _NEAR_DUP_TAU)
    )


# -- hyperplane-LSH signatures + bucketed ANN --------------------------------

_LSH_PLANE_CTE = """
WITH planes AS (SELECT unnest(range(0, 6)) AS p),
ex AS (
  SELECT vec_id, t.i - 1 AS i,
         CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1e7, 0) AS BIGINT) AS xi
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
),
proj AS (
  SELECT vec_id, p,
         SUM(xi * (CASE WHEN ('0x' || substr(md5(p || ':' || i), 1, 1))::INT % 2 = 0
                   THEN 1 ELSE -1 END)) AS s
  FROM ex CROSS JOIN planes
  GROUP BY vec_id, p
),
buckets AS (
  SELECT vec_id, CAST(SUM(CASE WHEN s >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id
)
"""

_LSH_SIG_ORACLE = _LSH_PLANE_CTE + """
SELECT bucket, COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec_id
FROM buckets GROUP BY bucket
"""


@query("q_lsh_hyperplane_buckets", _LSH_SIG_ORACLE)
def q_lsh_hyperplane_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket histogram of the cosine-LSH signatures (exact parity on every
    signature bit via the md5-Rademacher hyperplanes)."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        hyperplane_signature(e, n_planes=6)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
    )


_LSH_TOPK_ORACLE = _LSH_PLANE_CTE + """,
v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings),
scored AS (
  SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id,
         list_dot_product(qv.ve, cv.ve)
           / (sqrt(list_dot_product(qv.ve, qv.ve)) * sqrt(list_dot_product(cv.ve, cv.ve))) AS cos_sim
  FROM buckets qb JOIN buckets cb ON qb.bucket = cb.bucket AND qb.vec_id <> cb.vec_id
  JOIN v qv ON qb.vec_id = qv.vec_id
  JOIN v cv ON cb.vec_id = cv.vec_id
)
SELECT query_id, neighbor_id, cos_sim, sim_rank FROM (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS sim_rank
  FROM scored
) WHERE sim_rank <= 5
"""


@query("q_ann_lsh", _LSH_TOPK_ORACLE)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via hyperplane-LSH buckets: equi-join on the computed bucket id
    instead of the IVF label — the all-computed scale path (no learned
    centroids needed)."""
    e = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(e, k=5, n_planes=6)


# -- exact per-label centroids (integer-quantized, order-independent) --------

_CENTROID_ORACLE = """
SELECT label, i, sum_q, CAST(sum_q AS DOUBLE) / 10000000.0 / cnt AS centroid
FROM (
  SELECT label, i,
         CAST(SUM(CAST(round(embedding[i]::DOUBLE * 10000000, 0) AS BIGINT)) AS BIGINT) AS sum_q,
         COUNT(*) AS cnt
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
  GROUP BY label, i
)
"""


@query("q_label_centroids", _CENTROID_ORACLE)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding space (the k-means update step /
    IVF coarse-quantizer training primitive), long-form ``(label, i,
    centroid)``.  Components quantize to bigints before the sum, so the
    result is independent of partitioning and aggregation order — the same
    exactness discipline as every money aggregate (determinism.py).

    At 100 TB: posexplode is map-side; one shuffle on (label, i) with
    partial aggregation doing dim-wise combines before the exchange."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        quantized_dims(e, "label")
        .groupBy("label", "i")
        .agg(F.sum("xq").alias("sum_q"), F.count(F.lit(1)).alias("cnt"))
        .select(
            "label",
            "i",
            "sum_q",
            dequantized_mean(F.col("sum_q"), F.col("cnt")).alias("centroid"),
        )
    )


# -- kNN classification over the exact top-k neighbors -----------------------

_KNN_ORACLE = f"""
WITH topk AS (
  SELECT query_id, neighbor_id, cos_sim, sim_rank FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_COS_EXPR} AS cos_sim,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_COS_EXPR} DESC, c.vec_id ASC) AS sim_rank
    FROM embeddings q CROSS JOIN embeddings c
    WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id
  ) WHERE sim_rank <= {_K}
),
votes AS (
  SELECT t.query_id, e.label, COUNT(*) AS n_votes
  FROM topk t JOIN embeddings e ON t.neighbor_id = e.vec_id
  GROUP BY t.query_id, e.label
),
best AS (
  SELECT query_id, label AS pred_label, n_votes,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY n_votes DESC, label ASC) AS vr
  FROM votes
)
SELECT b.query_id, q.label AS true_label, b.pred_label, b.n_votes
FROM best b JOIN embeddings q ON b.query_id = q.vec_id
WHERE vr = 1
"""


@query("q_knn_classify", _KNN_ORACLE)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label prediction composed from the exact top-k operator: majority
    label among the 5 nearest neighbors, ties broken by the smaller label —
    the evaluation harness shape for embedding-quality checks on a training
    corpus."""
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    topk = cosine_topk(queries, emb, _K)
    labels = emb.select(F.col("vec_id").alias("neighbor_id"), "label")
    votes = (
        topk.join(F.broadcast(labels), "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    win = W.partitionBy("query_id").orderBy(F.desc("n_votes"), F.asc("label"))
    true_labels = emb.select(F.col("vec_id").alias("query_id"), F.col("label").alias("true_label"))
    return (
        votes.withColumn("vr", F.row_number().over(win))
        .filter(F.col("vr") == 1)
        .join(F.broadcast(true_labels), "query_id")
        .select("query_id", "true_label", F.col("label").alias("pred_label"), "n_votes")
    )


# -- ANN quality: recall@k of the LSH path against exact top-k ----------------
# The recall measurement runs over a FIXED 64-query anchor panel (the
# standard ANN-bench shape: a pinned query set against a growing corpus).
# This is what makes the harness linear at any scale — exact ground truth
# is O(anchors × N) instead of the all-queries O(N²), and the ANN probe arm
# broadcasts the anchor frame against the bucketed corpus (VERDICT r11
# task #4: these four recall harnesses were the last sf1 skip-by-design
# rows).  The corpus-side index structure (buckets / partitions) stays
# whole, so the recall numbers still measure the real index.

_N_ANCHORS = 64

_ANN_RECALL_ORACLE = _LSH_PLANE_CTE + f""",
v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings),
ann AS (
  SELECT query_id, neighbor_id FROM (
    SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY qb.vec_id ORDER BY
             list_dot_product(qv.ve, cv.ve)
               / (sqrt(list_dot_product(qv.ve, qv.ve)) * sqrt(list_dot_product(cv.ve, cv.ve))) DESC,
             cb.vec_id ASC) AS r
    FROM buckets qb JOIN buckets cb ON qb.bucket = cb.bucket AND qb.vec_id <> cb.vec_id
    JOIN v qv ON qb.vec_id = qv.vec_id
    JOIN v cv ON cb.vec_id = cv.vec_id
    WHERE qb.vec_id < {_N_ANCHORS}
  ) WHERE r <= {_K}
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {_COS_EXPR} DESC, c.vec_id ASC) AS r
    FROM embeddings q CROSS JOIN embeddings c
    WHERE q.vec_id < {_N_ANCHORS} AND q.vec_id <> c.vec_id
  ) WHERE r <= {_K}
)
SELECT COUNT(*) AS n_queries,
       CAST(SUM(hits) AS BIGINT) AS total_hits,
       (SUM(hits) * 1.0) / (COUNT(*) * {_K}) AS recall_at_k
FROM (
  SELECT e.query_id, COUNT(a.neighbor_id) AS hits
  FROM exact e LEFT JOIN ann a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
)
"""


@query("q_ann_recall", _ANN_RECALL_ORACLE)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality harness: recall@5 of the hyperplane-LSH path against the
    exact brute-force top-5, over a fixed 64-query anchor panel (see the
    module comment above — O(anchors × N) ground truth, linear at any
    scale).  This is the query that tunes n_planes: more planes → smaller
    buckets → faster but lower recall.  Both paths and the hit-join run in
    one plan; integer hit counts divide exactly."""
    e = load_table(spark, sf_dir, "embeddings")
    anchor = F.col("vec_id") < _N_ANCHORS
    return recall_at_k(
        cosine_topk(e.filter(anchor), e, _K),
        lsh_topk(e, k=_K, n_planes=6, query_pred=anchor),
        _K,
    )


# -- ANN recall, md5-derived anchor panel (rank-stability probe) --------------
# q_ann_recall's panel is the id-prefix `vec_id < 64`; this twin draws the
# SAME-SIZE panel by a pure hash of the id (the 64 smallest
# md5('anchor13:'||vec_id) values — a deterministic pseudo-random sample,
# computable identically in any engine) so the recall measurement is shown
# not to be an artifact of the id-ordered prefix (VERDICT r12 task #7).
# Ground truth stays O(anchors × N): the panel is a fixed-size TakeOrdered.

_ANN_RECALL_HASHED_ORACLE = _LSH_PLANE_CTE + f""",
panel AS (
  SELECT vec_id FROM embeddings
  ORDER BY md5('anchor13:' || vec_id), vec_id LIMIT {_N_ANCHORS}
),
v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings),
ann AS (
  SELECT query_id, neighbor_id FROM (
    SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY qb.vec_id ORDER BY
             list_dot_product(qv.ve, cv.ve)
               / (sqrt(list_dot_product(qv.ve, qv.ve)) * sqrt(list_dot_product(cv.ve, cv.ve))) DESC,
             cb.vec_id ASC) AS r
    FROM buckets qb JOIN buckets cb ON qb.bucket = cb.bucket AND qb.vec_id <> cb.vec_id
    JOIN v qv ON qb.vec_id = qv.vec_id
    JOIN v cv ON cb.vec_id = cv.vec_id
    WHERE qb.vec_id IN (SELECT vec_id FROM panel)
  ) WHERE r <= {_K}
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {_COS_EXPR} DESC, c.vec_id ASC) AS r
    FROM embeddings q CROSS JOIN embeddings c
    WHERE q.vec_id IN (SELECT vec_id FROM panel) AND q.vec_id <> c.vec_id
  ) WHERE r <= {_K}
)
SELECT COUNT(*) AS n_queries,
       CAST(SUM(hits) AS BIGINT) AS total_hits,
       (SUM(hits) * 1.0) / (COUNT(*) * {_K}) AS recall_at_k
FROM (
  SELECT e.query_id, COUNT(a.neighbor_id) AS hits
  FROM exact e LEFT JOIN ann a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
)
"""


@query("q_ann_recall_hashed", _ANN_RECALL_HASHED_ORACLE)
def q_ann_recall_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_ann_recall's rank-stability twin: identical measurement, but the
    64-query anchor panel is the 64 ids with the smallest
    md5('anchor13:'||vec_id) — a deterministic hash-random sample instead
    of the id-ordered prefix, proving the recall number is a property of
    the index, not of which rows happen to carry low ids.  The panel is a
    bounded TakeOrdered (64 rows collected — the same bounded-collect
    class as the centroid frames); everything downstream is the
    anchor-broadcast probe, O(anchors × N) at any scale."""
    e = load_table(spark, sf_dir, "embeddings")
    panel = [
        r[0]
        for r in e.select("vec_id")
        .orderBy(
            F.md5(F.concat(F.lit("anchor13:"), F.col("vec_id").cast("string"))),
            F.col("vec_id"),
        )
        .limit(_N_ANCHORS)
        .collect()
    ]
    anchor = F.col("vec_id").isin(panel)
    return recall_at_k(
        cosine_topk(e.filter(anchor), e, _K),
        lsh_topk(e, k=_K, n_planes=6, query_pred=anchor),
        _K,
    )


# -- IVF quality: recall@k of the coarse-partition path vs exact --------------

_IVF_RECALL_ORACLE = f"""
WITH ann AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {_COS_EXPR} DESC, c.vec_id ASC) AS r
    FROM embeddings q JOIN embeddings c
      ON q.label = c.label AND q.vec_id <> c.vec_id
    WHERE q.vec_id < {_N_ANCHORS}
  ) WHERE r <= {_K}
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {_COS_EXPR} DESC, c.vec_id ASC) AS r
    FROM embeddings q CROSS JOIN embeddings c
    WHERE q.vec_id < {_N_ANCHORS} AND q.vec_id <> c.vec_id
  ) WHERE r <= {_K}
)
SELECT COUNT(*) AS n_queries,
       CAST(SUM(hits) AS BIGINT) AS total_hits,
       (SUM(hits) * 1.0) / (COUNT(*) * {_K}) AS recall_at_k
FROM (
  SELECT e.query_id, COUNT(a.neighbor_id) AS hits
  FROM exact e LEFT JOIN ann a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
)
"""


@query("q_ivf_recall", _IVF_RECALL_ORACLE)
def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF quality harness: recall@5 of the coarse-partition path against
    exact brute force, over the fixed 64-query anchor panel — the
    nprobe/partition-count tuning measurement (q_ann_recall's twin for the
    learned-partition path).  Both arms broadcast the anchor frame:
    O(anchors × N), linear at any scale."""
    e = load_table(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") < _N_ANCHORS)
    return recall_at_k(cosine_topk(anchors, e, _K), ivf_topk(anchors, e, _K), _K)


# -- k-means: one full Lloyd iteration, exact-hash verified -------------------
# Update step = the quantized per-label centroids (q_label_centroids math);
# assign step = broadcast centroids, dot-product-form squared distance
# (sequential folds match list_dot_product bit-for-bit), deterministic
# argmin tie-break; inertia quantizes per-point before summation so the
# objective is aggregation-order independent.

_KMEANS_ORACLE = """
WITH ex AS (
  SELECT label, t.i AS i,
         CAST(round(embedding[t.i]::DOUBLE * 10000000, 0) AS BIGINT) AS xq
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
),
cents AS (
  SELECT label AS c_label, i, CAST(SUM(xq) AS BIGINT) AS sum_q, COUNT(*) AS cnt
  FROM ex GROUP BY label, i
),
carr AS (
  SELECT c_label,
         list(CAST(sum_q AS DOUBLE) / 10000000.0 / cnt ORDER BY i) AS cvec
  FROM cents GROUP BY c_label
),
v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
  FROM embeddings
),
scored AS (
  SELECT v.vec_id, v.label, c.c_label,
         list_dot_product(ve, ve) - 2 * list_dot_product(ve, cvec)
           + list_dot_product(cvec, cvec) AS d2
  FROM v CROSS JOIN carr c
),
assigned AS (
  SELECT vec_id, label, c_label, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC) AS rk
  FROM scored
)
SELECT c_label AS cluster,
       COUNT(*) AS n_vectors,
       CAST(SUM(CAST(round(d2 * 1000000, 0) AS BIGINT)) AS BIGINT) AS inertia_q,
       CAST(SUM(CASE WHEN c_label <> label THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
FROM assigned WHERE rk = 1
GROUP BY c_label
"""


@query("q_kmeans_iteration", _KMEANS_ORACLE)
def q_kmeans_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration over the embeddings (seeded by the label column as
    the initial partition): per-cluster size, exact quantized inertia, and
    migration count.  The full trainer is this query iterated — each round
    is one broadcast-assign scan plus one exploded-centroid shuffle."""
    e = load_table(spark, sf_dir, "embeddings")
    return kmeans_iteration_stats(e)


# -- int8 embedding quantization (storage-scale path) -------------------------
# 100 TB of float32 embeddings is 4x the bytes of int8 + one scale per
# vector; the quality question is "how much cosine/distance error does the
# quantization add", and this query measures it exactly: per-vector max-abs
# scale, quantized component sum, and the maximum reconstruction error —
# every output integer-quantized so the check is bit-exact, element-wise
# math only (no aggregation-order exposure).

_QUANTIZE_ORACLE = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
  FROM embeddings
),
scaled AS (
  SELECT vec_id, ve,
         list_max(list_transform(ve, x -> abs(x))) AS scale
  FROM v
),
q AS (
  SELECT vec_id, ve, scale,
         list_transform(ve, x -> CASE WHEN scale = 0 THEN 0
                                 ELSE CAST(round(x / scale * 127, 0) AS BIGINT) END) AS q8
  FROM scaled
)
SELECT vec_id,
       CAST(round(scale * 10000000, 0) AS BIGINT) AS scale_q,
       CAST(list_sum(q8) AS BIGINT) AS sum_q8,
       CAST(round(list_max(list_transform(range(1, len(ve) + 1),
                  i -> abs(ve[i] - CASE WHEN scale = 0 THEN 0.0
                                   ELSE q8[i] * scale / 127 END))) * 1000000000, 0) AS BIGINT)
         AS max_err_q
FROM q
"""


@query("q_embedding_quantize", _QUANTIZE_ORACLE)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization audit: max-abs scale, quantized sum, and
    max reconstruction error (both engines run the identical element-wise
    formula, so even the error is exact)."""
    e = load_table(spark, sf_dir, "embeddings")
    ve = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v = e.select("vec_id", ve.alias("ve"))
    scale = F.array_max(F.transform(F.col("ve"), F.abs))
    scaled = v.withColumn("scale", scale)
    q8 = F.transform(
        F.col("ve"),
        lambda x: F.when(F.col("scale") == 0, F.lit(0).cast("bigint")).otherwise(
            F.round(x / F.col("scale") * 127, 0).cast("bigint")
        ),
    )
    with_q = scaled.withColumn("q8", q8)
    err = F.zip_with(
        F.col("ve"),
        F.col("q8"),
        lambda x, qv: F.abs(
            x
            - F.when(F.col("scale") == 0, F.lit(0.0)).otherwise(
                qv * F.col("scale") / 127
            )
        ),
    )
    return with_q.select(
        "vec_id",
        quantize(F.col("scale")).alias("scale_q"),
        F.aggregate(F.col("q8"), F.lit(0).cast("bigint"), lambda a, x: a + x).alias("sum_q8"),
        F.round(F.array_max(err) * F.lit(1e9), 0).cast("bigint").alias("max_err_q"),
    )


# -- product quantization (the compression half of IVF-PQ) --------------------

_PQ_ORACLE = """
WITH subs AS (
  SELECT vec_id, s.s AS s,
         list_transform(embedding[s.s*16 + 1 : s.s*16 + 16],
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS qv
  FROM embeddings, (SELECT unnest(range(0, 4)) AS s) s
),
cb AS (SELECT vec_id AS code_id, s, qv AS cv FROM subs WHERE vec_id < 8),
scored AS (
  SELECT c.vec_id, c.s, cb.code_id,
         list_sum(list_transform(range(1, 17),
                  i -> (c.qv[i] - cb.cv[i]) * (c.qv[i] - cb.cv[i]))) AS dist
  FROM subs c JOIN cb USING (s)
),
best AS (
  SELECT vec_id, s, code_id, dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id, s
                            ORDER BY dist ASC, code_id ASC) AS rk
  FROM scored
)
SELECT vec_id,
       CAST(MAX(CASE WHEN s = 0 THEN code_id END) AS INT) AS code_0,
       CAST(MAX(CASE WHEN s = 1 THEN code_id END) AS INT) AS code_1,
       CAST(MAX(CASE WHEN s = 2 THEN code_id END) AS INT) AS code_2,
       CAST(MAX(CASE WHEN s = 3 THEN code_id END) AS INT) AS code_3,
       CAST(SUM(dist) AS BIGINT) AS err_q
FROM best WHERE rk = 1
GROUP BY vec_id
"""


@query("q_pq_codes", _PQ_ORACLE)
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes over the embedding corpus: 4 subspaces ×
    16 dims, 8 sample-initialized codebook entries, exact-bigint nearest-
    code assignment + total quantization error (operators/similarity.pq_codes).
    The m-byte code column is what an IVF-PQ index stores per vector at
    billion scale."""
    e = load_table(spark, sf_dir, "embeddings")
    return pq_codes(e)


# -- metadata-filtered ANN (pre-filtering) ------------------------------------

_ANN_FILTERED_ORACLE = """
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, ve AS qv,
             sqrt(list_dot_product(ve, ve)) AS qn
      FROM v WHERE vec_id % 50 = 0),
c AS (SELECT vec_id AS neighbor_id, ve AS cv,
             sqrt(list_dot_product(ve, ve)) AS cn
      FROM v WHERE label % 2 = 0),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv) / (qn * cn) AS cos_sim
  FROM q CROSS JOIN c WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, sim_rank FROM (
  SELECT scored.*, ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, neighbor_id ASC) AS sim_rank
  FROM scored
) WHERE sim_rank <= 3
"""


@query("q_ann_filtered", _ANN_FILTERED_ORACLE)
def q_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search with PRE-filtering (the vector-DB
    correctness rule: apply the attribute predicate BEFORE candidate
    generation, or top-k recall silently drops when matches are filtered
    away afterwards).  The label predicate reaches the parquet scan
    (PushedFilters) so the filtered corpus never materializes unfiltered;
    then exact cosine top-3 per query over the survivors."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 50 == 0)
    corpus = e.filter(F.col("label") % 2 == 0)
    return cosine_topk(queries, corpus, k=3)


# -- embedding dup CLUSTERS (pairs -> groups, the dedup closure) -------------

_EMB_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE {_COS_EXPR.replace('q.', 'a.').replace('c.', 'b.')} >= {_NEAR_DUP_TAU}
),
edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
          UNION SELECT vec_b, vec_a FROM pairs),
reach AS (
  SELECT src AS vec, dst AS reach FROM edges
  UNION
  SELECT r.vec, e.dst FROM reach r JOIN edges e ON r.reach = e.src
)
SELECT vec AS vec_id, LEAST(vec, MIN(reach)) AS cluster_id
FROM reach GROUP BY vec
"""


@query("q_embedding_dup_clusters", _EMB_CLUSTERS_ORACLE)
def q_embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level duplicate GROUPS: the cosine near-dup pairs
    (IVF-restricted, τ = 0.92) closed into connected components, cluster_id
    = min vec_id — the embedding twin of q_dedup_clusters, completing the
    modality: a pipeline drops `vec_id != cluster_id` rows.  Same iterative
    min-label + pointer-jumping operator (O(log n) rounds, lineage cut per
    round); the oracle replays the closure with a recursive CTE."""
    from ..operators.dedup import connected_components

    pairs = q_embedding_near_dup(spark, sf_dir).select("vec_a", "vec_b")
    return (
        connected_components(pairs, a_col="vec_a", b_col="vec_b")
        .withColumnRenamed("doc", "vec_id")
    )


# -- SemDeDup: cluster-scoped semantic deduplication --------------------------
# SemDeDup (Abbas et al., 2023) prunes semantic duplicates by comparing
# embeddings only WITHIN k-means clusters: candidate generation is an
# equi-join on the cluster id (N²/k pairwise work instead of N²), and within
# each similar pair the vector FARTHER from its centroid is pruned — keeping
# the most prototypical exemplar.  The engine composes its existing exact
# pieces: quantized label centroids, broadcast nearest-centroid assignment
# (bit-exact d2), and the sequential-fold cosine — so the whole pipeline
# carries a hard value oracle.  Scale shape: one broadcast assign pass, one
# equi-join on cluster (bounded by the largest cluster — k is chosen so
# clusters fit; skewed clusters would be salted), one anti-join rollup.

_SEMDEDUP_TAU = 0.9

_SEMDEDUP_ORACLE = f"""
WITH ex AS (
  SELECT label, t.i AS i,
         CAST(round(embedding[t.i]::DOUBLE * 10000000, 0) AS BIGINT) AS xq
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
),
cents AS (
  SELECT label AS c_label, i, CAST(SUM(xq) AS BIGINT) AS sum_q, COUNT(*) AS cnt
  FROM ex GROUP BY label, i
),
carr AS (
  SELECT c_label,
         list(CAST(sum_q AS DOUBLE) / 10000000.0 / cnt ORDER BY i) AS cvec
  FROM cents GROUP BY c_label
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
  FROM embeddings
),
scored AS (
  SELECT v.vec_id, c.c_label,
         list_dot_product(ve, ve) - 2 * list_dot_product(ve, cvec)
           + list_dot_product(cvec, cvec) AS d2
  FROM v CROSS JOIN carr c
),
assigned AS (
  SELECT vec_id, c_label AS cluster, d2 FROM (
    SELECT vec_id, c_label, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC) AS rk
    FROM scored
  ) WHERE rk = 1
),
pairs AS (
  SELECT a.vec_id AS keep_id, b.vec_id AS prune_id
  FROM assigned a
  JOIN assigned b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
  JOIN v va ON va.vec_id = a.vec_id
  JOIN v vb ON vb.vec_id = b.vec_id
  WHERE (a.d2 < b.d2 OR (a.d2 = b.d2 AND a.vec_id < b.vec_id))
    AND list_dot_product(va.ve, vb.ve)
        / (sqrt(list_dot_product(va.ve, va.ve)) * sqrt(list_dot_product(vb.ve, vb.ve)))
        >= {_SEMDEDUP_TAU}
),
pruned AS (SELECT DISTINCT prune_id FROM pairs)
SELECT cluster,
       COUNT(*) AS n_vectors,
       CAST(SUM(CASE WHEN p.prune_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
       CAST(SUM(CASE WHEN p.prune_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(MIN(CASE WHEN p.prune_id IS NOT NULL THEN a.vec_id END) AS BIGINT) AS sample_pruned_id
FROM assigned a LEFT JOIN pruned p ON a.vec_id = p.prune_id
GROUP BY cluster
"""


@query("q_semdedup", _SEMDEDUP_ORACLE)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup, FAITHFUL FIXED-k TWIN — NOT FOR SCALE.  Kept as the
    paper-faithful variant (Abbas et al. 2023: k-means clusters, prune the
    vector farther from its centroid in every within-cluster pair with
    cosine ≥ τ): the within-cluster candidate stage is N²/k pairs, which
    at FIXED k (the 10 label centroids here) grows quadratically with the
    corpus — 11 s at sf1 vs 1.25 s for the scaled twin, and the k-sweep
    artifact (KSWEEP_SEMDEDUP) shows its per-vector pair work growing
    ~linearly with N.  Any 100 TB caller must use :func:`q_semdedup_scaled`
    — SemDeDup's own contract is k ∝ N (constant cluster SIZE, not
    constant cluster COUNT), which the scaled twin realizes with bounded
    md5 sub-buckets; this one exists so the exact paper semantics stay
    value-oracled."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = label_centroid_arrays(emb)
    assigned = kmeans_assign(emb, cents).select("vec_id", "cluster", "d2")
    # persist: the assigned+norm frame feeds both self-join sides and the
    # final rollup — three recomputes of the centroid assignment otherwise
    withv = scoped_persist(
        assigned.join(emb.select("vec_id", "embedding"), "vec_id")
        .withColumn("v_norm", norm(F.col("embedding")))
    )
    # Each unordered pair is scored ONCE (vec_a < vec_b); "better" (closer
    # to centroid, ties by id) is a total order, so every similar pair has
    # exactly one loser — the union of losers equals the exists-a-better-
    # neighbor pruned set at half the pairwise cosine work.
    a = withv.select(
        F.col("vec_id").alias("vec_a"), F.col("cluster"),
        F.col("d2").alias("d2_a"), F.col("embedding").alias("va"),
        F.col("v_norm").alias("na"),
    )
    b = withv.select(
        F.col("vec_id").alias("vec_b"), F.col("cluster"),
        F.col("d2").alias("d2_b"), F.col("embedding").alias("vb"),
        F.col("v_norm").alias("nb"),
    )
    a_better = (F.col("d2_a") < F.col("d2_b")) | (
        (F.col("d2_a") == F.col("d2_b")) & (F.col("vec_a") < F.col("vec_b"))
    )
    pruned = (
        a.join(b, "cluster")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(
            cosine_with_norms(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            )
            >= _SEMDEDUP_TAU
        )
        .select(F.when(a_better, F.col("vec_b")).otherwise(F.col("vec_a")).alias("prune_id"))
        .distinct()
        .withColumn("is_pruned", F.lit(1))
    )
    return (
        withv.select("vec_id", "cluster")
        .join(pruned, withv.vec_id == pruned.prune_id, "left")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.when(F.col("is_pruned").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pruned"),
            F.sum(F.when(F.col("is_pruned").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.min(F.when(F.col("is_pruned").isNotNull(), F.col("vec_id")))
            .cast("bigint")
            .alias("sample_pruned_id"),
        )
    )


# -- SemDeDup with the k ∝ N contract made explicit ---------------------------
# q_semdedup above is the faithful fixed-k variant: its within-cluster
# candidate stage is N²/k, quadratic when k stays fixed while N grows (the
# one sf1 bench row over the linear gate in r11 — VERDICT r11 task #1).
# SemDeDup's own contract says k scales with N so cluster size stays
# constant; this variant REALIZES that contract with exact semantics:
# after the (linear, fixed-k0) nearest-label-centroid assignment, each
# cluster is split into nb_c = ceil(n_c / TARGET) sub-buckets by
# md5(vec_id) — a pure function of the data, so sub-membership is stable
# under retries/speculation and expressible in the DuckDB oracle.  The
# effective cluster count k_eff = Σ nb_c grows ∝ N; per-sub-bucket pair
# work is O(TARGET²) constant; total candidate work is O(N·TARGET) —
# linear.  Pairs crossing a sub-bucket boundary are missed exactly the way
# SemDeDup misses pairs crossing k-means cluster boundaries (the paper's
# own approximation); the prune rule (drop the pair member FARTHER from
# its coarse centroid, ties by id) is unchanged.

_SD_TARGET = 16  # target sub-bucket size; per-bucket work is O(TARGET^2)

_SEMDEDUP_SCALED_ORACLE = f"""
WITH ex AS (
  SELECT label, t.i AS i,
         CAST(round(embedding[t.i]::DOUBLE * 10000000, 0) AS BIGINT) AS xq
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
),
cents AS (
  SELECT label AS c_label, i, CAST(SUM(xq) AS BIGINT) AS sum_q, COUNT(*) AS cnt
  FROM ex GROUP BY label, i
),
carr AS (
  SELECT c_label,
         list(CAST(sum_q AS DOUBLE) / 10000000.0 / cnt ORDER BY i) AS cvec
  FROM cents GROUP BY c_label
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
  FROM embeddings
),
scored AS (
  SELECT v.vec_id, c.c_label,
         list_dot_product(ve, ve) - 2 * list_dot_product(ve, cvec)
           + list_dot_product(cvec, cvec) AS d2
  FROM v CROSS JOIN carr c
),
assigned AS (
  SELECT vec_id, c_label AS cluster, d2 FROM (
    SELECT vec_id, c_label, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC) AS rk
    FROM scored
  ) WHERE rk = 1
),
nb AS (
  SELECT cluster, (COUNT(*) + {_SD_TARGET} - 1) // {_SD_TARGET} AS nb
  FROM assigned GROUP BY cluster
),
sub AS (
  SELECT a.vec_id, a.cluster, a.d2,
         {hash60_sql("'sd12:' || a.vec_id")} % nb.nb AS sub
  FROM assigned a JOIN nb USING (cluster)
),
pairs AS (
  SELECT a.vec_id AS va_id, b.vec_id AS vb_id, a.d2 AS d2_a, b.d2 AS d2_b
  FROM sub a
  JOIN sub b ON a.cluster = b.cluster AND a.sub = b.sub AND a.vec_id < b.vec_id
  JOIN v x ON x.vec_id = a.vec_id
  JOIN v y ON y.vec_id = b.vec_id
  WHERE list_dot_product(x.ve, y.ve)
        / (sqrt(list_dot_product(x.ve, x.ve)) * sqrt(list_dot_product(y.ve, y.ve)))
        >= {_SEMDEDUP_TAU}
),
pruned AS (
  SELECT DISTINCT CASE WHEN d2_a < d2_b OR (d2_a = d2_b AND va_id < vb_id)
                       THEN vb_id ELSE va_id END AS prune_id
  FROM pairs
)
SELECT s.cluster,
       COUNT(DISTINCT s.sub) AS n_subclusters,
       COUNT(*) AS n_vectors,
       CAST(SUM(CASE WHEN p.prune_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
       CAST(SUM(CASE WHEN p.prune_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(MIN(CASE WHEN p.prune_id IS NOT NULL THEN s.vec_id END) AS BIGINT) AS sample_pruned_id
FROM sub s LEFT JOIN pruned p ON s.vec_id = p.prune_id
GROUP BY s.cluster
"""


@query("q_semdedup_scaled", _SEMDEDUP_SCALED_ORACLE)
def q_semdedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the k ∝ N contract explicit: bounded md5 sub-buckets
    inside each coarse cluster keep per-cluster candidate work O(TARGET²)
    constant as data grows (see the module comment above).  Same prune
    rule and τ as q_semdedup; rollup adds n_subclusters so the k-sweep
    artifact can show k_eff growing with N while the per-bucket cost
    stays flat."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = label_centroid_arrays(emb)
    assigned = kmeans_assign(emb, cents).select("vec_id", "cluster", "d2")
    sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_c"))
    nb = sizes.select(
        "cluster",
        F.expr(f"CAST((n_c + {_SD_TARGET} - 1) DIV {_SD_TARGET} AS BIGINT)").alias(
            "nb"
        ),
    )
    sub_col = hash60(F.concat(F.lit("sd12:"), F.col("vec_id").cast("string"))) % F.col("nb")
    withv = scoped_persist(
        assigned.join(F.broadcast(nb), "cluster")
        .withColumn("sub", sub_col)
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .withColumn("v_norm", norm(F.col("embedding")))
    )
    a = withv.select(
        F.col("vec_id").alias("vec_a"), "cluster", "sub",
        F.col("d2").alias("d2_a"), F.col("embedding").alias("va"),
        F.col("v_norm").alias("na"),
    )
    b = withv.select(
        F.col("vec_id").alias("vec_b"), "cluster", "sub",
        F.col("d2").alias("d2_b"), F.col("embedding").alias("vb"),
        F.col("v_norm").alias("nb2"),
    )
    a_better = (F.col("d2_a") < F.col("d2_b")) | (
        (F.col("d2_a") == F.col("d2_b")) & (F.col("vec_a") < F.col("vec_b"))
    )
    pruned = (
        a.join(b, ["cluster", "sub"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(
            cosine_with_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb2"))
            >= _SEMDEDUP_TAU
        )
        .select(
            F.when(a_better, F.col("vec_b")).otherwise(F.col("vec_a")).alias("prune_id")
        )
        .distinct()
        .withColumn("is_pruned", F.lit(1))
    )
    return (
        withv.select("vec_id", "cluster", "sub")
        .join(pruned, withv.vec_id == pruned.prune_id, "left")
        .groupBy("cluster")
        .agg(
            F.countDistinct("sub").alias("n_subclusters"),
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.when(F.col("is_pruned").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pruned"),
            F.sum(F.when(F.col("is_pruned").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.min(F.when(F.col("is_pruned").isNotNull(), F.col("vec_id")))
            .cast("bigint")
            .alias("sample_pruned_id"),
        )
    )


# -- IVF-PQ search with ADC lookup tables -------------------------------------

_IVFPQ_ORACLE = """
WITH subs AS (
  SELECT vec_id, s.s AS s,
         list_transform(embedding[s.s*16 + 1 : s.s*16 + 16],
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS qv
  FROM embeddings, (SELECT unnest(range(0, 4)) AS s) s
),
cb AS (SELECT vec_id AS code_id, s, qv AS cv FROM subs WHERE vec_id < 8),
scored AS (
  SELECT c.vec_id, c.s, cb.code_id,
         list_sum(list_transform(range(1, 17),
                  i -> (c.qv[i] - cb.cv[i]) * (c.qv[i] - cb.cv[i]))) AS dist
  FROM subs c JOIN cb USING (s)
),
codes AS (
  SELECT vec_id, s, code_id FROM (
    SELECT vec_id, s, code_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s
                              ORDER BY dist ASC, code_id ASC) AS rk
    FROM scored
  ) WHERE rk = 1
),
lut AS (
  SELECT q.vec_id AS query_id, sc.s, sc.code_id, sc.dist
  FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id % 50 = 0) q
  JOIN scored sc ON sc.vec_id = q.vec_id
),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, co.s, co.code_id
  FROM embeddings q
  JOIN embeddings c ON q.label = c.label AND q.vec_id <> c.vec_id
  JOIN codes co ON co.vec_id = c.vec_id
  WHERE q.vec_id % 50 = 0
),
adc AS (
  SELECT cand.query_id, cand.neighbor_id, CAST(SUM(l.dist) AS BIGINT) AS adc_q
  FROM cand JOIN lut l ON l.query_id = cand.query_id
                      AND l.s = cand.s AND l.code_id = cand.code_id
  GROUP BY cand.query_id, cand.neighbor_id
)
SELECT query_id, neighbor_id, adc_q, adc_rank FROM (
  SELECT query_id, neighbor_id, adc_q,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_q ASC, neighbor_id ASC) AS adc_rank
  FROM adc
) WHERE adc_rank <= 5
"""


@query("q_ivfpq_adc", _IVFPQ_ORACLE)
def q_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF-PQ read path (billion-scale ANN): coarse IVF partition
    restricts candidates, PQ codes replace vectors, and each candidate's
    distance is m integer lookups in a broadcast per-query ADC table —
    query-time work never touches a float vector
    (operators/similarity.pq_adc_topk).  Exact-bigint distances keep the
    ranking engine-exact, so even the approximate path carries a hard
    value oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    return pq_adc_topk(queries_df, emb, 5)


# -- hard-negative mining (contrastive training pairs) ------------------------

_HARD_NEG_ORACLE = f"""
SELECT query_id, neighbor_id, neg_label, cos_sim, neg_rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neg_label,
         {_COS_EXPR} AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
                            ORDER BY {_COS_EXPR} DESC, c.vec_id ASC) AS neg_rank
  FROM embeddings q CROSS JOIN embeddings c
  WHERE q.vec_id % 50 = 0 AND q.label <> c.label
) WHERE neg_rank <= 4
"""


@query("q_hard_negatives", _HARD_NEG_ORACLE)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    most-similar vectors with a DIFFERENT label — the examples a triplet /
    InfoNCE loss learns most from.  Same broadcast-anchors shape as
    cosine_topk with the label-inequality predicate fused into the join; at
    scale the cross join becomes the IVF/LSH candidate path with the label
    filter applied before scoring."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = vector_side(
        emb.filter(F.col("vec_id") % 50 == 0), "query", F.col("label").alias("q_label")
    )
    c = vector_side(emb, "corpus", F.col("label").alias("neg_label"))
    pairs = F.broadcast(q).join(c, F.col("q_label") != F.col("neg_label"))
    return keep_top_k(score_pairs(pairs, "neg_label"), 4, "neg_rank")


# -- per-source embedding drift (centroid shift) ------------------------------
# Distribution monitoring in embedding space: each source's centroid vs the
# corpus centroid, as an exact quantized squared distance.  Centroids use
# the integer-sum discipline of q_label_centroids (order-independent
# bigint component sums); the distance closes over the same
# exactly-representable doubles in both engines.  Embeddings align to
# documents by id (vec_id = doc_id in the driver tables).

_DRIFT_EMB_ORACLE = """
WITH ex AS (
  SELECT d.source, t.i AS i,
         CAST(round(e.embedding[t.i]::DOUBLE * 10000000, 0) AS BIGINT) AS xq
  FROM embeddings e
  JOIN documents d ON e.vec_id = d.doc_id,
       unnest(range(1, len(e.embedding) + 1)) AS t(i)
),
src AS (
  SELECT source, i, CAST(SUM(xq) AS DOUBLE) / 10000000.0 / COUNT(*) AS c
  FROM ex GROUP BY source, i
),
corp AS (
  SELECT i, CAST(SUM(xq) AS DOUBLE) / 10000000.0 / COUNT(*) AS c
  FROM ex GROUP BY i
)
SELECT s.source,
       CAST(COUNT(*) AS INT) AS dim,
       CAST(SUM(CAST(round((s.c - g.c) * (s.c - g.c) * 1000000000, 0) AS BIGINT)) AS BIGINT) AS shift_q
FROM src s JOIN corp g USING (i)
GROUP BY s.source
"""


@query("q_embedding_drift", _DRIFT_EMB_ORACLE)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # two aggregations (per-source and corpus) read this frame
    ex = scoped_persist(
        quantized_dims(emb.join(docs, emb.vec_id == docs.doc_id), "source"), eager=True
    )
    mean = dequantized_mean(F.sum("xq"), F.count(F.lit(1)))
    src = ex.groupBy("source", "i").agg(mean.alias("c"))
    corp = ex.groupBy("i").agg(mean.alias("gc"))
    term = F.round((F.col("c") - F.col("gc")) * (F.col("c") - F.col("gc")) * F.lit(1e9), 0).cast("bigint")
    return (
        src.join(corp, "i")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("int").alias("dim"),
            F.sum(term).cast("bigint").alias("shift_q"),
        )
    )


# -- perceptual image dedup (round 5): dHash + banded Hamming join ------------

_DHASH_N_PAIRS = 30  # 60 images: 30 near-dup pairs (variant 0/1 per pair)
_DHASH_BANDS = 4  # 16 bits each; pigeonhole: hamming <= 3 shares a band
_DHASH_MAX_HAMMING = 3


def _golden_image_dhash_pairs() -> list[tuple[int, int, int]]:
    """Sequential brute force over all image pairs — the independent twin
    of the banded plan (oracle equality doubles as a no-false-negatives
    proof for the banding, exactly the SimHash pigeonhole argument)."""
    from ..operators.media_codec import decode_png, dhash64, synth_variant_png

    h = {}
    for doc_id in range(2 * _DHASH_N_PAIRS):
        content = synth_variant_png(doc_id // 2, doc_id % 2)
        h[doc_id] = dhash64(decode_png(content)) % (1 << 64)
    out = []
    for a in range(2 * _DHASH_N_PAIRS):
        for b in range(a + 1, 2 * _DHASH_N_PAIRS):
            ham = bin(h[a] ^ h[b]).count("1")
            if ham <= _DHASH_MAX_HAMMING:
                out.append((a, b, ham))
    return out


def _image_dhash_oracle() -> str:
    rows = _golden_image_dhash_pairs()
    body = ", ".join(f"({a}, {b}, {m})" for a, b, m in rows)
    return f"SELECT * FROM (VALUES {body}) AS t(doc_a, doc_b, hamming)"


@query("q_image_dhash_dedup", _image_dhash_oracle())
def q_image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dedup: REAL PNG encode→decode through the
    Arrow boundary (media_codec's stdlib codec — CRC check, inflate,
    un-filter), integer dHash per image, then banded Hamming-distance
    candidate generation: 4 x 16-bit bands bucket-join (pigeonhole — a
    pair within Hamming 3 must share a band, so candidates are exact, not
    sampled), exact bit_count verify on candidates only.

    The oracle is the sequential brute force over ALL pairs, so its
    equality also proves the banding loses nothing.  Scale shape: the
    image corpus shuffles once on (band, value) — the SimHash-banded
    near-dup plan applied to pixels instead of tokens; decode stays in
    mapInPandas batches."""
    import pandas as pd

    from ..operators.media_codec import decode_png, dhash64, synth_variant_png

    def hash_batches(it):
        for pdf in it:
            ids = pdf["id"].astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "dhash": [
                        dhash64(decode_png(synth_variant_png(int(i) // 2, int(i) % 2)))
                        for i in ids
                    ],
                }
            )

    # both sides of the self-join read this frame: persist so the PNG
    # decode (the expensive Python stage) runs once, not once per side
    hashed = scoped_persist(
        spark.range(2 * _DHASH_N_PAIRS)
        .mapInPandas(hash_batches, "doc_id bigint, dhash bigint"),
        eager=True,
    )
    banded = hashed.select(
        "doc_id",
        "dhash",
        F.explode(F.sequence(F.lit(0), F.lit(_DHASH_BANDS - 1))).alias("band"),
    ).withColumn(
        # SQL form: the python shiftrightunsigned wrapper only takes a
        # literal shift, the SQL function takes an expression
        "band_val",
        F.expr("shiftrightunsigned(dhash, band * 16)").bitwiseAND(F.lit(0xFFFF)),
    )
    a = banded.select(
        F.col("band"), F.col("band_val"),
        F.col("doc_id").alias("doc_a"), F.col("dhash").alias("ha"),
    )
    b = banded.select(
        F.col("band"), F.col("band_val"),
        F.col("doc_id").alias("doc_b"), F.col("dhash").alias("hb"),
    )
    cands = (
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cands.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= _DHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


# -- LSH plane-count tuning sweep (round 5) ------------------------------------
# The measurement q_ann_recall's docstring promises ("the query that tunes
# n_planes") made first-class: ONE plan produces, per candidate plane count,
# the recall@5 AND the candidate-pair workload the bucket join would score —
# the two axes of the LSH tradeoff.  The exact top-5 (the expensive O(n^2)
# side) is computed once behind a scoped persist and every config's hit join
# reads the cache.

_SWEEP_PLANES = [2, 4, 6]


def _plane_sweep_oracle() -> str:
    """Per-config bucket/ann/recall CTEs (suffix-named) over ONE shared
    exact top-k and one shared quantized-component frame."""
    parts = [
        f"""
WITH ex AS (
  SELECT vec_id, t.i - 1 AS i,
         CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1e7, 0) AS BIGINT) AS xi
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
),
v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {_COS_EXPR} DESC, c.vec_id ASC) AS r
    FROM embeddings q CROSS JOIN embeddings c
    WHERE q.vec_id < {_N_ANCHORS} AND q.vec_id <> c.vec_id
  ) WHERE r <= {_K}
)"""
    ]
    selects = []
    for n in _SWEEP_PLANES:
        parts.append(
            f""",
proj{n} AS (
  SELECT vec_id, p,
         SUM(xi * (CASE WHEN ('0x' || substr(md5(p || ':' || i), 1, 1))::INT % 2 = 0
                   THEN 1 ELSE -1 END)) AS s
  FROM ex CROSS JOIN (SELECT unnest(range(0, {n})) AS p) planes
  GROUP BY vec_id, p
),
buckets{n} AS (
  SELECT vec_id, CAST(SUM(CASE WHEN s >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
  FROM proj{n} GROUP BY vec_id
),
cand{n} AS (
  SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS candidate_pairs
  FROM (SELECT COUNT(*) AS c FROM buckets{n} GROUP BY bucket)
),
ann{n} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY qb.vec_id ORDER BY
             list_dot_product(qv.ve, cv.ve)
               / (sqrt(list_dot_product(qv.ve, qv.ve)) * sqrt(list_dot_product(cv.ve, cv.ve))) DESC,
             cb.vec_id ASC) AS r
    FROM buckets{n} qb JOIN buckets{n} cb ON qb.bucket = cb.bucket AND qb.vec_id <> cb.vec_id
    JOIN v qv ON qb.vec_id = qv.vec_id
    JOIN v cv ON cb.vec_id = cv.vec_id
    WHERE qb.vec_id < {_N_ANCHORS}
  ) WHERE r <= {_K}
)"""
        )
        selects.append(
            f"""
SELECT {n} AS n_planes, n_queries, total_hits, recall_at_k, candidate_pairs
FROM (
  SELECT COUNT(*) AS n_queries, CAST(SUM(hits) AS BIGINT) AS total_hits,
         (SUM(hits) * 1.0) / (COUNT(*) * {_K}) AS recall_at_k
  FROM (
    SELECT e.query_id, COUNT(a.neighbor_id) AS hits
    FROM exact e LEFT JOIN ann{n} a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
  )
) CROSS JOIN cand{n}"""
        )
    return "".join(parts) + "\nUNION ALL\n".join(selects)


@query("q_ann_plane_sweep", _plane_sweep_oracle())
def q_ann_plane_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH tuning curve: for each candidate plane count, recall@5 against
    the exact top-5 AND the ordered candidate-pair count the bucket join
    scores (sum over buckets of c*(c-1)) — recall falls and cost falls as
    planes are added; this query IS the tradeoff table an operator reads
    before fixing n_planes.  Recall is measured over the fixed 64-query
    anchor panel (O(anchors × N) ground truth — linear at any scale) while
    candidate_pairs stays CORPUS-wide (the index workload being tuned).
    The exact side is computed once behind a scoped persist; each config
    adds only its map-only signature pass, anchor-broadcast bucket probe,
    and hit join against the cache."""
    e = load_table(spark, sf_dir, "embeddings")
    anchor = F.col("vec_id") < _N_ANCHORS
    exact = scoped_persist(
        cosine_topk(e.filter(anchor), e, _K).select("query_id", "neighbor_id"),
        eager=True,
    )
    out = None
    for n in _SWEEP_PLANES:
        ann = lsh_topk(e, k=_K, n_planes=n, query_pred=anchor)
        cand = (
            hyperplane_signature(e, n)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.sum(F.col("c") * (F.col("c") - F.lit(1)))
                .cast("bigint")
                .alias("candidate_pairs")
            )
        )
        row = recall_at_k(exact, ann, _K, F.lit(n).cast("int").alias("n_planes")).crossJoin(
            F.broadcast(cand)
        )
        out = row if out is None else out.unionByName(row)
    return out


# -- IVF nprobe tuning sweep (round 5) -----------------------------------------
# The learned-partition twin of q_ann_plane_sweep: q_ivf_recall probes ONE
# partition (the query's own label); real IVF search probes the nprobe
# partitions whose centroids sit closest to the query.  One plan yields the
# recall/cost curve over nprobe — centroids from the integer-quantized sums
# (the q_label_centroids discipline, so the rank order is engine-exact),
# query->centroid ranking against the broadcast 10-row centroid dimension,
# candidates = an equi-join against the probed partitions only.

_NPROBES = [1, 2, 4]


def _nprobe_sweep_oracle() -> str:
    parts = [
        f"""
WITH cent AS (
  SELECT label, list(CAST(sum_q AS DOUBLE) / 10000000.0 / cnt ORDER BY i) AS cvec
  FROM (
    SELECT label, i,
           SUM(CAST(round(embedding[i]::DOUBLE * 10000000, 0) AS BIGINT)) AS sum_q,
           COUNT(*) AS cnt
    FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    GROUP BY label, i
  ) GROUP BY label
),
ranked AS (
  SELECT q.vec_id AS query_id, c.label,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           list_dot_product(q.embedding::DOUBLE[], c.cvec)
             / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                * sqrt(list_dot_product(c.cvec, c.cvec))) DESC, c.label ASC) AS rnk
  FROM embeddings q CROSS JOIN cent c
),
sizes AS (SELECT label, COUNT(*) AS sz FROM embeddings GROUP BY label),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {_COS_EXPR} DESC, c.vec_id ASC) AS r
    FROM embeddings q CROSS JOIN embeddings c
    WHERE q.vec_id < {_N_ANCHORS} AND q.vec_id <> c.vec_id
  ) WHERE r <= {_K}
)"""
    ]
    selects = []
    for P in _NPROBES:
        parts.append(
            f""",
probed{P} AS (SELECT query_id, label FROM ranked WHERE rnk <= {P}),
ann{P} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY {_COS_EXPR} DESC, c.vec_id ASC) AS r
    FROM probed{P} p JOIN embeddings c ON p.label = c.label
    JOIN embeddings q ON p.query_id = q.vec_id
    WHERE c.vec_id <> p.query_id AND p.query_id < {_N_ANCHORS}
  ) WHERE r <= {_K}
),
cand{P} AS (
  SELECT CAST(SUM(s.sz) - SUM(CASE WHEN p.label = q.label THEN 1 ELSE 0 END) AS BIGINT)
           AS candidate_pairs
  FROM probed{P} p JOIN sizes s ON p.label = s.label
  JOIN embeddings q ON p.query_id = q.vec_id
)"""
        )
        selects.append(
            f"""
SELECT {P} AS nprobe, n_queries, total_hits, recall_at_k, candidate_pairs
FROM (
  SELECT COUNT(*) AS n_queries, CAST(SUM(hits) AS BIGINT) AS total_hits,
         (SUM(hits) * 1.0) / (COUNT(*) * {_K}) AS recall_at_k
  FROM (
    SELECT e.query_id, COUNT(a.neighbor_id) AS hits
    FROM exact e LEFT JOIN ann{P} a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
  )
) CROSS JOIN cand{P}"""
        )
    return "".join(parts) + "\nUNION ALL\n".join(selects)


@query("q_ivf_nprobe_sweep", _nprobe_sweep_oracle())
def q_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF tuning curve: recall@5 and scored-candidate count when probing
    the nprobe nearest coarse partitions (by centroid cosine) instead of
    q_ivf_recall's own-label-only probe.  Centroids come from the
    integer-quantized per-label sums of ``label_centroid_arrays``
    (order-independent, so the centroid
    bits — and therefore the probe sets — are identical in any engine or
    partitioning); the 10-row centroid dimension broadcasts, the probe set
    rides a window over 10 rows per query, and candidates are one equi-join
    against the probed partitions.  Recall is measured over the fixed
    64-query anchor panel (linear ground truth at any scale — only the
    anchor rows' probes feed the ANN arm) while candidate_pairs stays
    CORPUS-wide (the index workload being tuned); the exact side is
    computed once behind a scoped persist, shared by every config's hit
    join."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "embeddings")
    exact = scoped_persist(
        cosine_topk(e.filter(F.col("vec_id") < _N_ANCHORS), e, _K).select(
            "query_id", "neighbor_id"
        ),
        eager=True,
    )
    wn = scoped_persist(
        e.select("vec_id", "label", "embedding", norm(F.col("embedding")).alias("vnorm")),
        eager=True,
    )

    ranked = (
        e.select(F.col("vec_id").alias("query_id"), "embedding")
        .crossJoin(F.broadcast(label_centroid_arrays(e)))
        .select(
            "query_id",
            F.col("c_label").alias("label"),
            cosine(F.col("embedding"), F.col("cvec")).alias("cscore"),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(F.desc("cscore"), F.asc("label"))
            ),
        )
    )
    probed_all = scoped_persist(
        ranked.filter(F.col("rnk") <= max(_NPROBES)).select("query_id", "label", "rnk"),
        eager=True,
    )

    lbl_sz = e.groupBy("label").agg(F.count(F.lit(1)).alias("sz"))
    own = e.select(F.col("vec_id").alias("query_id"), F.col("label").alias("own_label"))
    c_side = vector_side(wn, "corpus", "label", norm_col="vnorm")
    q_side = vector_side(wn, "query", norm_col="vnorm")

    out = None
    for P in _NPROBES:
        pr = probed_all.filter(F.col("rnk") <= P).select("query_id", "label")
        # ANN hit arm: anchors only (the recall panel); cand below keeps
        # the full probe set — corpus-wide index workload
        pr_anchor = pr.filter(F.col("query_id") < _N_ANCHORS)
        pairs = (
            pr_anchor.join(c_side, "label")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .join(F.broadcast(q_side), "query_id")
        )
        ann = keep_top_k(score_pairs(pairs), _K, "r")
        cand = (
            pr.join(F.broadcast(lbl_sz), "label")
            .join(F.broadcast(own), "query_id")
            .agg(
                (
                    F.sum("sz")
                    - F.sum(
                        F.when(F.col("label") == F.col("own_label"), 1).otherwise(0)
                    )
                )
                .cast("bigint")
                .alias("candidate_pairs")
            )
        )
        row = recall_at_k(exact, ann, _K, F.lit(P).cast("int").alias("nprobe")).crossJoin(
            F.broadcast(cand)
        )
        out = row if out is None else out.unionByName(row)
    return out
