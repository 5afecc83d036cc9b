"""Similarity search over embedding columns (BASELINE.json north star).

Two paths:

* ``cosine_topk`` — brute-force exact top-k: broadcast the (small) query set
  against the corpus, JVM-side dot products (``zip_with`` + ``aggregate``,
  no Python), window top-k per query.  At 100 TB the corpus scan is
  embarrassingly parallel and the broadcast keeps it shuffle-free until the
  final (tiny) top-k combine.
* ``ivf_topk`` — the scale path: restrict each query to its coarse partition
  (inverted-file style).  The driver tables carry a ``label`` cluster id,
  standing in for a learned centroid assignment; candidate generation is an
  equi-join on the partition key, cutting compared pairs by ~n_partitions×.

Dot products are bit-identical to DuckDB's ``list_dot_product`` on DOUBLE[]
(verified in tests), so both paths are oracle-checked with no tolerance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import scoped_persist


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin the STREAM side of a broadcast join out to the session's
    default parallelism when the scan gives fewer partitions.

    The stream side inherits the scan's partitioning, and a corpus that
    arrives as one small parquet file runs the whole O(N²·dim) fold in ONE
    task — found live in the r10 sf1 sweep: ``q_ann_plane_sweep``'s exact
    side sat 20+ minutes in a single-task stage over a 20k-vector
    single-file corpus while 31 cores idled.  The repartition shuffles N
    rows — noise against the N²·dim fold it parallelizes — and is skipped
    when the scan is already wide (a real 100 TB corpus arrives in
    thousands of files; this guard is for small/medium corpora and
    single-file test layouts)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double — matches single-node engines
    bit-for-bit for any array length."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_with_norms(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine with the norms precomputed per ROW instead of per PAIR: the
    arithmetic is op-for-op the same as :func:`cosine` (sequential-fold dot,
    sqrt, multiply, divide — bit-identical result), but each side's norm is
    evaluated once per vector, cutting per-pair work from 3 dots to 1.  In a
    top-k over P pairs this is the difference between O(3·P·dim) and
    O(P·dim + N·dim)."""
    return dot(a, b) / (norm_a * norm_b)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, neighbor_id, cos_sim,
    sim_rank).  Self-pairs excluded; ties broken by neighbor id."""
    from pyspark.sql import Window as W

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(_spread(c))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_with_norms(
                F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
            ).alias("cos_sim"),
        )
    )
    win = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("sim_rank", F.row_number().over(win))
        .filter(F.col("sim_rank") <= k)
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    partition_col: str = "label",
) -> DataFrame:
    """IVF-style approximate top-k: candidates limited to the query's coarse
    partition (equi-join on the partition key instead of a cross join)."""
    from pyspark.sql import Window as W

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
        F.col(partition_col).alias("part"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
        F.col(partition_col).alias("part"),
    )
    scored = (
        F.broadcast(q)
        .join(_spread(c), "part")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_with_norms(
                F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
            ).alias("cos_sim"),
        )
    )
    win = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("sim_rank", F.row_number().over(win))
        .filter(F.col("sim_rank") <= k)
    )


def hyperplane_signature(
    df: DataFrame,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Random-hyperplane (cosine) LSH bucket per vector: bit p of the bucket
    id is the sign of the projection onto a Rademacher (±1) hyperplane whose
    components derive from md5(p ':' i) — deterministic in any engine, any
    partitioning (functions/determinism.py discipline).

    Exactness: components quantize to integers (round(x·1e7)) before the
    projection, so the per-plane sum is order-independent BIGINT arithmetic —
    no float-summation-order drift.

    The sign matrix is only ``n_planes × dim`` distinct values, derived once
    at the driver (hashlib md5 — byte-identical to any engine's md5) and
    embedded as per-plane LITERAL arrays, so each plane's projection is one
    ``aggregate(zip_with(vec, signs_p, …))`` over the row's own array —
    MAP-ONLY: no explode, no join, no shuffle (the r2 form exploded to
    dim × n_planes rows per vector and paid two hash-agg exchanges; measured
    at sf0.1 this form is ~4× faster and AQE-independent).  Each projection
    is a flat two-level HOF — the same ``zip_with``-in-``aggregate`` shape as
    :func:`dot`, deliberately NOT the three-level transform-in-zip_with-in-
    aggregate tower that Spark 4.1 was observed to miscompile (every LSH
    oracle stays value-checked, so a regression of that bug would go red).

    At 100 TB: the bucket is computed in the scan stage; the only shuffle
    anywhere downstream is whatever the caller does with (id, bucket).
    """
    import hashlib

    if dim is None:
        # fallback probe (one extra Spark job) — callers that know the
        # embedding dimensionality pass ``dim`` and skip it
        dim_row = df.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = int(dim_row["d"]) if dim_row else 0

    def sign(p: int, i: int) -> int:
        return 1 if int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[0], 16) % 2 == 0 else -1

    def projection(p: int) -> Column:
        signs_p = F.array(*[F.lit(sign(p, i)).cast("bigint") for i in range(dim)])
        quantized = F.zip_with(
            F.col(vec_col),
            signs_p,
            lambda x, s: F.round(x.cast("double") * F.lit(1e7), 0).cast("bigint") * s,
        )
        return F.aggregate(quantized, F.lit(0).cast("bigint"), lambda acc, x: acc + x)

    bucket = None
    for p in range(n_planes):
        bit = F.when(projection(p) >= 0, F.lit(1 << p).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        bucket = bit if bucket is None else bucket + bit
    return df.select(F.col(id_col), F.col(vec_col), bucket.alias("bucket"))


def lsh_topk(
    df: DataFrame,
    k: int,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    query_pred: Column | None = None,
) -> DataFrame:
    """Approximate top-k via hyperplane-LSH bucketing: candidates limited to
    the query's bucket (equi-join on the bucket id), then exact cosine +
    window top-k — the cosine twin of ``ivf_topk`` with a computed, rather
    than learned, coarse partition.

    ``query_pred`` (a predicate over ``df``'s columns) restricts the QUERY
    side to an anchor panel while the corpus/bucket structure stays whole —
    the asymmetric path broadcasts the (small) anchor frame against the
    bucketed corpus, O(anchors × bucket size) instead of the symmetric
    all-pairs-within-bucket N²/buckets.  This is what makes the recall
    harnesses linear at any scale (VERDICT r11 task #4)."""
    from pyspark.sql import Window as W

    # persist: the bucket self-join references the signature frame twice and
    # Spark would otherwise recompute the explode+agg once per branch
    sigs = scoped_persist(
        hyperplane_signature(df, n_planes, id_col, vec_col, dim=dim)
        .withColumn("v_norm", norm(F.col(vec_col)))
    )
    q_src = sigs.filter(query_pred) if query_pred is not None else sigs
    q = q_src.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("v_norm").alias("q_norm"),
        "bucket",
    )
    c = sigs.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("v_norm").alias("c_norm"),
        "bucket",
    )
    if query_pred is not None:
        win = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
        return (
            F.broadcast(q)
            .join(c, "bucket")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                cosine_with_norms(
                    F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
                ).alias("cos_sim"),
            )
            .withColumn("sim_rank", F.row_number().over(win))
            .filter(F.col("sim_rank") <= k)
        )
    # Each unordered pair is scored ONCE (query_id < neighbor_id) and then
    # mirrored: x*y and the fold order are symmetric, so the mirrored score
    # is bit-identical while the dominant cosine fold costs half.  Every
    # vector has exactly one bucket, so a pair can't duplicate across
    # buckets.
    pairs = (
        q.join(c, "bucket")
        .filter(F.col("query_id") < F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_with_norms(
                F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
            ).alias("cos_sim"),
        )
    )
    # mirror via a row-local explode (NOT a self-union, which would run the
    # join+cosine subtree once per branch)
    scored = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("query_id"), F.col("neighbor_id")),
                F.struct(
                    F.col("neighbor_id").alias("query_id"),
                    F.col("query_id").alias("neighbor_id"),
                ),
            )
        ).alias("p"),
        "cos_sim",
    ).select("p.query_id", "p.neighbor_id", "cos_sim")
    win = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("sim_rank", F.row_number().over(win)).filter(
        F.col("sim_rank") <= k
    )


def pq_subvectors(
    df: DataFrame,
    m: int,
    sub_dim: int,
    quant: float,
    id_col: str,
    vec_col: str,
    out_id: str,
) -> DataFrame:
    """Explode each vector into ``m`` quantized-bigint subvectors:
    (out_id, s, qv) — the shared front half of PQ encoding and ADC lookup
    tables.  Quantization is per-component round(x·quant) so all downstream
    distance arithmetic is exact integer."""

    def quantized_sub(s: int) -> Column:
        return F.transform(
            F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim),
            lambda x: F.round(x.cast("double") * F.lit(quant), 0).cast("bigint"),
        )

    subs = F.explode(
        F.array(
            *[
                F.struct(F.lit(s).alias("s"), quantized_sub(s).alias("qv"))
                for s in range(m)
            ]
        )
    ).alias("sub")
    return df.select(F.col(id_col).alias(out_id), subs).select(
        out_id, F.col("sub.s").alias("s"), F.col("sub.qv").alias("qv")
    )


def _pq_dist() -> Column:
    """Exact bigint squared distance between the quantized subvector pair
    (qv, cv) in scope."""
    return F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def pq_codes(
    df: DataFrame,
    m: int = 4,
    k: int = 8,
    sub_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: float = 1e6,
) -> DataFrame:
    """Product-quantization codes — the compression half of IVF-PQ, the
    standard billion-scale ANN layout: split each vector into ``m``
    subvectors, assign each to its nearest codebook entry, emit the m-byte
    code plus the total quantization error.

    Codebook: the subvectors of the first ``k`` vectors (sample-initialized
    codebooks — a valid PQ init; a trained variant iterates q_kmeans_iteration
    per subspace).  Distances are exact BIGINT arithmetic on round(x·quant)
    components, so assignment and error are engine-exact and oracle-checkable.

    Scale shape: the codebook is k·m tiny rows → broadcast; the corpus
    explodes to m rows per vector (subspace axis), joins map-side, and the
    argmin + code assembly is one (id)-keyed aggregation.  At 100 TB this is
    the pattern that turns a 256 GB float corpus into m bytes/vector."""
    from pyspark.sql import Window as W

    corpus = pq_subvectors(df, m, sub_dim, quant, id_col, vec_col, id_col)
    codebook = pq_subvectors(
        df.filter(F.col(id_col) < k), m, sub_dim, quant, id_col, vec_col, "code_id"
    ).withColumnRenamed("qv", "cv")
    scored = corpus.join(F.broadcast(codebook), "s").select(
        F.col(id_col), "s", "code_id", _pq_dist().alias("dist")
    )
    win = W.partitionBy(id_col, "s").orderBy(F.asc("dist"), F.asc("code_id"))
    best = scored.withColumn("rk", F.row_number().over(win)).filter(F.col("rk") == 1)
    return best.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("s") == s, F.col("code_id"))).cast("int").alias(f"code_{s}")
            for s in range(m)
        ],
        F.sum("dist").alias("err_q"),
    )


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k_neighbors: int = 5,
    m: int = 4,
    k_codes: int = 8,
    sub_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    part_col: str = "label",
    quant: float = 1e6,
) -> DataFrame:
    """IVF-PQ search with ADC (asymmetric distance computation) — the full
    billion-scale ANN read path: candidates come only from the query's
    coarse partition (IVF equi-join on ``part_col``), and each candidate's
    distance is looked up from its m-byte PQ code via a per-query distance
    table instead of touching the float vector.

    The distance table (query × subspace × codebook entry) has
    |Q|·m·k_codes rows — tiny, broadcast — so scoring a candidate is m
    integer lookups + a sum: the corpus float vectors are read exactly once
    (at encode time), never at query time.  All distances are exact BIGINT
    on round(x·quant) components, so ranking is engine-exact.

    Scale shape: codes+partition form the index table (m bytes + 1 key per
    vector); the search is one equi-join on the partition key, one broadcast
    lut join, one (query, candidate) aggregation — no shuffle touches
    anything vector-sized."""
    from pyspark.sql import Window as W

    codes = pq_codes(
        corpus, m=m, k=k_codes, sub_dim=sub_dim, id_col=id_col,
        vec_col=vec_col, quant=quant,
    ).join(corpus.select(F.col(id_col), F.col(part_col)), id_col)

    codebook = pq_subvectors(
        corpus.filter(F.col(id_col) < k_codes), m, sub_dim, quant,
        id_col, vec_col, "code_id",
    ).withColumnRenamed("qv", "cv")
    qsubs = pq_subvectors(queries, m, sub_dim, quant, id_col, vec_col, "query_id")
    lut = qsubs.join(F.broadcast(codebook), "s").select(
        "query_id", "s", "code_id", _pq_dist().alias("dist")
    )

    cand = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(part_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"), F.col(f"code_{s}").alias("code_id")
                    )
                    for s in range(m)
                ]
            )
        ).alias("sub"),
    ).select("neighbor_id", part_col, F.col("sub.s").alias("s"), F.col("sub.code_id").alias("code_id"))

    q_part = queries.select(F.col(id_col).alias("query_id"), F.col(part_col))
    scored = (
        cand.join(F.broadcast(q_part), part_col)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(lut), ["query_id", "s", "code_id"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("dist").alias("adc_q"))
    )
    win = W.partitionBy("query_id").orderBy(F.asc("adc_q"), F.asc("neighbor_id"))
    return (
        scored.withColumn("adc_rank", F.row_number().over(win))
        .filter(F.col("adc_rank") <= k_neighbors)
    )


def rrf_fuse(rankings: list[DataFrame], id_col: str, k: int = 60) -> DataFrame:
    """Reciprocal-rank fusion of N ranked lists (Cormack/Clarke/Buettcher,
    SIGIR 2009 — the standard hybrid-retrieval combiner; beyond-reference:
    the reference has no rank-fusion operator).

    Each input frame carries ``id_col`` plus a 1-based ``rank`` column
    unique within that frame.  Returns one row per id seen in ANY ranking
    with the per-source ranks (``rank_0`` .. ``rank_{n-1}``, null where the
    source missed the id) and ``rrf_score`` = Σ 1/(k + rank_i) over the
    PRESENT sources.  The score is built as a fixed expression tree over
    the N sources — per-row scalar math, not a float aggregation — so for
    a fixed N it is bit-identical in any engine, under any partitioning,
    and across task retries.

    Scale shape: producers depth-cap their rankings (TakeOrdered), so the
    fold full-outer-joins depth-sized frames.  Spark cannot broadcast a
    full-outer join (both sides must stream), so these plan as sort-merge
    joins — over <= depth-row inputs the shuffles are trivially small, and
    the fused frame never exceeds N x depth rows.  If a single-shuffle
    shape ever mattered (it does not at production depths of 10^2-10^3),
    the same semantics are expressible as union + groupBy(id) + one
    min(rank) per source tag.
    """
    assert rankings, "rrf_fuse needs at least one ranking"
    fused = rankings[0].select(id_col, F.col("rank").alias("rank_0"))
    for i, r in enumerate(rankings[1:], start=1):
        fused = fused.join(
            r.select(id_col, F.col("rank").alias(f"rank_{i}")),
            id_col,
            "full_outer",
        )
    score = None
    for i in range(len(rankings)):
        c = F.col(f"rank_{i}")
        term = F.when(c.isNotNull(), F.lit(1.0) / (F.lit(k) + c)).otherwise(
            F.lit(0.0)
        )
        score = term if score is None else score + term
    return fused.withColumn("rrf_score", score)
