"""Similarity search over embedding columns (BASELINE.json north star).

Every operator here reads vectors in one shape, ``(vec_id, embedding[,
label])``, and checks it at entry (:func:`require_vectors`).  Each stage of
a search is written once and shared by every path:

* :func:`vector_side` — the ``(id, vector, norm)`` projection of the query
  or the corpus side, each norm computed once per vector, not per pair;
* :func:`score_pairs` + :func:`keep_top_k` — the cosine of each candidate
  pair, then the row_number over ``(cos_sim DESC, neighbor_id ASC)`` kept
  while ``<= k``;
* :func:`recall_at_k` — the hit-join of an approximate top-k against the
  exact one;
* :func:`quantize` / :func:`quantized_dims` — ``round(x·QUANT)`` component
  quantization, behind the LSH projections and every exact centroid.

The paths differ only in how they generate candidate pairs:

* ``cosine_topk`` — exact: broadcast the (small) query set against the
  whole corpus (JVM-side dot products, no Python, no shuffle until the
  final tiny top-k combine; at 100 TB the corpus scan is embarrassingly
  parallel);
* ``ivf_topk`` — the query's coarse partition, inverted-file style: the
  driver tables carry a ``label`` cluster id standing in for a learned
  centroid assignment, and candidates are an equi-join on it, cutting
  compared pairs by ~n_partitions×;
* ``lsh_topk`` — the query's hyperplane-LSH bucket, a computed partition;
* ``pq_adc_topk`` — IVF candidates scored from product-quantization codes
  instead of vectors.

Dot products are bit-identical to DuckDB's ``list_dot_product`` on DOUBLE[]
(verified in tests), so every path is oracle-checked with no tolerance.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from ..caching import scoped_persist

QUANT = 1e7  # component quantization: round(x·QUANT) as bigint


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


def require_vectors(df: DataFrame, *extra: str) -> None:
    """The input contract of every operator here: a ``vec_id`` column, an
    array ``embedding`` column and the ``extra`` columns (``label`` for the
    partitioned paths).  Raises ``ValueError`` before any job runs."""
    fields = {f.name: f.dataType for f in df.schema.fields}
    missing = [c for c in ("vec_id", "embedding", *extra) if c not in fields]
    if missing:
        raise ValueError(f"vector input lacks columns {missing}; it has {sorted(fields)}")
    if not isinstance(fields["embedding"], ArrayType):
        raise ValueError(
            f"embedding must be an array, got {fields['embedding'].simpleString()}"
        )


def quantize(x: Column, scale: float = QUANT) -> Column:
    """``round(x·scale)`` as bigint: sums and products of quantized
    components are order-independent integer arithmetic."""
    return F.round(x.cast("double") * F.lit(scale), 0).cast("bigint")


def quantized_dims(df: DataFrame, key: str, out: str | None = None) -> DataFrame:
    """``(out, i, xq)``: one row per embedding component, ``i`` 1-based and
    ``xq`` its :func:`quantize`; ``key`` rides along, renamed to ``out``
    when given.  The front of every exact centroid: a groupBy on
    ``(out, i)`` then sums integers, so the result is independent of
    partitioning and aggregation order (posexplode is map-side; partial
    aggregation combines dim-wise before the exchange)."""
    name = out or key
    return df.select(
        F.col(key).alias(name) if out else key,
        F.posexplode(F.col("embedding")).alias("i0", "x"),
    ).select(name, (F.col("i0") + 1).alias("i"), quantize(F.col("x")).alias("xq"))


def dequantized_mean(sum_q: Column, cnt: Column) -> Column:
    """A centroid component from its quantized sum and count."""
    return sum_q.cast("double") / F.lit(QUANT) / cnt


def vector_side(
    df: DataFrame, role: str, *extra: Column | str, norm_col: str | None = None
) -> DataFrame:
    """One side of a scored-pair join: ``(query_id, q_vec, q_norm, *extra)``
    for ``role="query"``, ``(neighbor_id, c_vec, c_norm, *extra)`` for
    ``role="corpus"``.  The norm is computed once per vector (or read from
    the precomputed column ``norm_col``), never once per pair."""
    id_name, p = {"query": ("query_id", "q"), "corpus": ("neighbor_id", "c")}[role]
    vec_norm = norm(F.col("embedding")) if norm_col is None else F.col(norm_col)
    return df.select(
        F.col("vec_id").alias(id_name),
        F.col("embedding").alias(f"{p}_vec"),
        vec_norm.alias(f"{p}_norm"),
        *extra,
    )


def score_pairs(pairs: DataFrame, *keep: str) -> DataFrame:
    """``(query_id, neighbor_id, *keep, cos_sim)`` over a join of a query
    and a corpus :func:`vector_side`."""
    return pairs.select(
        "query_id",
        "neighbor_id",
        *keep,
        cosine_with_norms(
            F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
        ).alias("cos_sim"),
    )


def keep_top_k(scored: DataFrame, k: int, rank_col: str = "sim_rank") -> DataFrame:
    """The ``k`` best-scored pairs per query: ``rank_col`` is the
    row_number over ``(cos_sim DESC, neighbor_id ASC)`` — ties go to the
    smaller neighbor id — kept while ``<= k``."""
    from pyspark.sql import Window as W

    win = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn(rank_col, F.row_number().over(win)).filter(
        F.col(rank_col) <= k
    )


def recall_at_k(exact: DataFrame, ann: DataFrame, k: int, *tag: Column) -> DataFrame:
    """One row ``(*tag, n_queries, total_hits, recall_at_k)``: how many of
    each query's exact top-k neighbors the approximate top-k ``ann`` found
    (a left hit-join on (query_id, neighbor_id)).  Integer hit counts
    divide exactly."""
    pair = ["query_id", "neighbor_id"]
    joined = exact.select(pair).alias("e").join(
        ann.select(pair).alias("a"),
        (F.col("e.query_id") == F.col("a.query_id"))
        & (F.col("e.neighbor_id") == F.col("a.neighbor_id")),
        "left",
    )
    per_query = joined.groupBy(F.col("e.query_id")).agg(
        F.count(F.col("a.neighbor_id")).alias("hits")
    )
    return per_query.agg(
        *tag,
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("hits").alias("total_hits"),
        ((F.sum("hits") * F.lit(1.0)) / (F.count(F.lit(1)) * F.lit(k))).alias("recall_at_k"),
    )


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, neighbor_id, cos_sim,
    sim_rank).  Self-pairs excluded; ties broken by neighbor id."""
    require_vectors(queries)
    require_vectors(corpus)
    pairs = (
        F.broadcast(vector_side(queries, "query"))
        .crossJoin(_spread(vector_side(corpus, "corpus")))
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return keep_top_k(score_pairs(pairs), k)


def ivf_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """IVF-style approximate top-k: candidates limited to the query's coarse
    partition (equi-join on ``label`` instead of a cross join)."""
    require_vectors(queries, "label")
    require_vectors(corpus, "label")
    part = F.col("label").alias("part")
    pairs = (
        F.broadcast(vector_side(queries, "query", part))
        .join(_spread(vector_side(corpus, "corpus", part)), "part")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return keep_top_k(score_pairs(pairs), k)


def hyperplane_signature(df: DataFrame, n_planes: int = 6) -> DataFrame:
    """Random-hyperplane (cosine) LSH bucket per vector: bit p of the bucket
    id is the sign of the projection onto a Rademacher (±1) hyperplane whose
    components derive from md5(p ':' i) — deterministic in any engine, any
    partitioning (functions/determinism.py discipline).

    Exactness: components :func:`quantize` to integers before the
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
    The dimension is read from the first row (one small job).

    At 100 TB: the bucket is computed in the scan stage; the only shuffle
    anywhere downstream is whatever the caller does with (id, bucket).
    """
    import hashlib

    require_vectors(df)
    dim_row = df.select(F.size(F.col("embedding")).alias("d")).first()
    dim = int(dim_row["d"]) if dim_row else 0

    def sign(p: int, i: int) -> int:
        return 1 if int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[0], 16) % 2 == 0 else -1

    def projection(p: int) -> Column:
        signs_p = F.array(*[F.lit(sign(p, i)).cast("bigint") for i in range(dim)])
        quantized = F.zip_with(F.col("embedding"), signs_p, lambda x, s: quantize(x) * s)
        return F.aggregate(quantized, F.lit(0).cast("bigint"), lambda acc, x: acc + x)

    bucket = None
    for p in range(n_planes):
        bit = F.when(projection(p) >= 0, F.lit(1 << p).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        bucket = bit if bucket is None else bucket + bit
    return df.select(F.col("vec_id"), F.col("embedding"), bucket.alias("bucket"))


def lsh_topk(
    df: DataFrame, k: int, n_planes: int = 6, query_pred: Column | None = None
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
    # persist: the bucket self-join references the signature frame twice and
    # Spark would otherwise recompute the explode+agg once per branch
    sigs = scoped_persist(
        hyperplane_signature(df, n_planes).withColumn("v_norm", norm(F.col("embedding")))
    )
    q_src = sigs.filter(query_pred) if query_pred is not None else sigs
    q = vector_side(q_src, "query", "bucket", norm_col="v_norm")
    c = vector_side(sigs, "corpus", "bucket", norm_col="v_norm")
    if query_pred is not None:
        pairs = (
            F.broadcast(q).join(c, "bucket").filter(F.col("query_id") != F.col("neighbor_id"))
        )
        return keep_top_k(score_pairs(pairs), k)
    # Each unordered pair is scored ONCE (query_id < neighbor_id) and then
    # mirrored: x*y and the fold order are symmetric, so the mirrored score
    # is bit-identical while the dominant cosine fold costs half.  Every
    # vector has exactly one bucket, so a pair can't duplicate across
    # buckets.
    pairs = q.join(c, "bucket").filter(F.col("query_id") < F.col("neighbor_id"))
    # mirror via a row-local explode (NOT a self-union, which would run the
    # join+cosine subtree once per branch)
    scored = score_pairs(pairs).select(
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
    return keep_top_k(scored, k)


# Product-quantization shape: PQ_M subvectors of PQ_SUB_DIM components each,
# PQ_CODES sample-initialized codebook entries, components quantized at
# PQ_QUANT.
PQ_M = 4
PQ_CODES = 8
PQ_SUB_DIM = 16
PQ_QUANT = 1e6


def pq_subvectors(df: DataFrame, out_id: str) -> DataFrame:
    """Explode each vector into ``PQ_M`` quantized-bigint subvectors:
    (out_id, s, qv) — the shared front half of PQ encoding and ADC lookup
    tables.  Quantization is per-component round(x·PQ_QUANT) so all
    downstream distance arithmetic is exact integer."""

    def quantized_sub(s: int) -> Column:
        return F.transform(
            F.slice(F.col("embedding"), s * PQ_SUB_DIM + 1, PQ_SUB_DIM),
            lambda x: quantize(x, PQ_QUANT),
        )

    subs = F.explode(
        F.array(
            *[
                F.struct(F.lit(s).alias("s"), quantized_sub(s).alias("qv"))
                for s in range(PQ_M)
            ]
        )
    ).alias("sub")
    return df.select(F.col("vec_id").alias(out_id), subs).select(
        out_id, F.col("sub.s").alias("s"), F.col("sub.qv").alias("qv")
    )


def _pq_codebook(df: DataFrame) -> DataFrame:
    """(code_id, s, cv): the subvectors of the first ``PQ_CODES`` vectors."""
    return pq_subvectors(df.filter(F.col("vec_id") < PQ_CODES), "code_id").withColumnRenamed(
        "qv", "cv"
    )


def _pq_dist() -> Column:
    """Exact bigint squared distance between the quantized subvector pair
    (qv, cv) in scope."""
    return F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def pq_codes(df: DataFrame) -> DataFrame:
    """Product-quantization codes — the compression half of IVF-PQ, the
    standard billion-scale ANN layout: split each vector into ``PQ_M``
    subvectors, assign each to its nearest codebook entry, emit the m-byte
    code plus the total quantization error.

    Codebook: the subvectors of the first ``PQ_CODES`` vectors
    (sample-initialized codebooks — a valid PQ init; a trained variant
    iterates q_kmeans_iteration per subspace).  Distances are exact BIGINT
    arithmetic on round(x·PQ_QUANT) components, so assignment and error are
    engine-exact and oracle-checkable.

    Scale shape: the codebook is k·m tiny rows → broadcast; the corpus
    explodes to m rows per vector (subspace axis), joins map-side, and the
    argmin + code assembly is one (id)-keyed aggregation.  At 100 TB this is
    the pattern that turns a 256 GB float corpus into m bytes/vector."""
    from pyspark.sql import Window as W

    require_vectors(df)
    scored = pq_subvectors(df, "vec_id").join(F.broadcast(_pq_codebook(df)), "s").select(
        "vec_id", "s", "code_id", _pq_dist().alias("dist")
    )
    win = W.partitionBy("vec_id", "s").orderBy(F.asc("dist"), F.asc("code_id"))
    best = scored.withColumn("rk", F.row_number().over(win)).filter(F.col("rk") == 1)
    return best.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("s") == s, F.col("code_id"))).cast("int").alias(f"code_{s}")
            for s in range(PQ_M)
        ],
        F.sum("dist").alias("err_q"),
    )


def pq_adc_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """IVF-PQ search with ADC (asymmetric distance computation) — the full
    billion-scale ANN read path: candidates come only from the query's
    coarse partition (IVF equi-join on ``label``), and each candidate's
    distance is looked up from its m-byte PQ code via a per-query distance
    table instead of touching the float vector.

    The distance table (query × subspace × codebook entry) has
    |Q|·PQ_M·PQ_CODES rows — tiny, broadcast — so scoring a candidate is m
    integer lookups + a sum: the corpus float vectors are read exactly once
    (at encode time), never at query time.  All distances are exact BIGINT
    on round(x·PQ_QUANT) components, so ranking is engine-exact.

    Scale shape: codes+partition form the index table (m bytes + 1 key per
    vector); the search is one equi-join on the partition key, one broadcast
    lut join, one (query, candidate) aggregation — no shuffle touches
    anything vector-sized."""
    from pyspark.sql import Window as W

    require_vectors(queries, "label")
    require_vectors(corpus, "label")
    codes = pq_codes(corpus).join(corpus.select("vec_id", "label"), "vec_id")
    lut = pq_subvectors(queries, "query_id").join(F.broadcast(_pq_codebook(corpus)), "s").select(
        "query_id", "s", "code_id", _pq_dist().alias("dist")
    )
    cand = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(s).alias("s"), F.col(f"code_{s}").alias("code_id"))
                    for s in range(PQ_M)
                ]
            )
        ).alias("sub"),
    ).select(
        "neighbor_id", "label", F.col("sub.s").alias("s"), F.col("sub.code_id").alias("code_id")
    )

    q_part = queries.select(F.col("vec_id").alias("query_id"), F.col("label"))
    scored = (
        cand.join(F.broadcast(q_part), "label")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(lut), ["query_id", "s", "code_id"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("dist").alias("adc_q"))
    )
    win = W.partitionBy("query_id").orderBy(F.asc("adc_q"), F.asc("neighbor_id"))
    return (
        scored.withColumn("adc_rank", F.row_number().over(win))
        .filter(F.col("adc_rank") <= k)
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
