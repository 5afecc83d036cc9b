"""Approximate aggregation surface: HyperLogLog++ distinct counts and
Greenwald-Khanna percentiles, each reported NEXT TO its exact twin so the
result row itself carries the error harness.

These are the mergeable-sketch aggregates a 100 TB pipeline leans on: both
are partial-aggregable (one pass, map-side combine, O(sketch) shuffle bytes
per group) where their exact twins need a full shuffle of distinct values
(COUNT DISTINCT) or a sort (percentile).

Value-oracle design (upgraded from rows-only in r3): the sketch estimates
themselves are engine-specific (DuckDB's sketches differ), so the HASHED
columns are the engine-stable parts — the exact twins as integers plus a
boolean guarantee check (estimate within its published error bound) that
the Spark side computes from the real sketch output and the oracle asserts
as TRUE.  A sketch that ever violates its bound flips the boolean and the
driver's value-hash goes red — the guarantee itself is oracle-checked, not
just row counts.  Tighter statistical error-bound assertions live in
tests/test_approx.py (same quality-harness pattern as q_ann_recall).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.determinism import TWO_60_INT, hash60_sql
from ..sources.readers import load_table
from .registry import query

HLL_RSD = 0.05
# pass criterion: within 3 standard errors of the requested rsd
HLL_BOUND = 3 * HLL_RSD

_DISTINCT_ORACLE = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS within_bound
FROM events GROUP BY event_type
"""


@query("q_approx_distinct_users", _DISTINCT_ORACLE)
def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type: exact vs HyperLogLog++ (rsd=5%).
    At scale the exact arm is the one you drop — approx_count_distinct
    shuffles one ~kB sketch per group instead of every distinct key.  The
    oracle-hashed columns are the exact count and the 3σ-bound check on the
    real sketch estimate (the oracle asserts it must hold)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", HLL_RSD).alias("approx_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.lit(HLL_BOUND) * F.col("exact_users")
            ).alias("within_bound"),
        )
    )


# GK sketch accuracy: rank error <= n / _GK_ACCURACY.  The guarantee check
# brackets the approx value between the exact order statistics at ranks
# k ± (n // _GK_ACCURACY + 1) — directly the published contract.
_GK_ACCURACY = 10_000

_PCTL_ORACLE = """
WITH c AS (
  SELECT o_orderstatus, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
r AS (
  SELECT o_orderstatus, cents,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY cents) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
  FROM c
)
SELECT o_orderstatus, MAX(n) AS n,
       MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN cents END) AS p50_cents,
       MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN cents END) AS p90_cents,
       TRUE AS p50_in_bound, TRUE AS p90_in_bound
FROM r GROUP BY o_orderstatus
"""


@query("q_approx_percentiles", _PCTL_ORACLE)
def q_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-price p50/p90 per status: exact discrete percentile (the k-th
    order statistic in integer cents — engine-stable, no interpolation
    floats) vs percentile_approx (GK sketch).  Oracle-hashed: the exact
    values plus the GK rank-error guarantee check — the approx value must
    lie between the order statistics at ranks k ± (n/accuracy + 1).  The
    exact arm costs a per-group sort (the scale ceiling that motivates the
    sketch); the approx arm is one mergeable pass."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    ranked = o.select(
        "o_orderstatus",
        "cents",
        F.row_number().over(W.partitionBy("o_orderstatus").orderBy("cents")).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("o_orderstatus")).alias("n"),
    )

    def order_stat(rank_col):
        return F.max(F.when(F.col("rn") == rank_col, F.col("cents")))

    slack = (F.col("n") / _GK_ACCURACY).cast("bigint") + 1
    k50 = F.ceil(F.lit(0.5) * F.col("n"))
    k90 = F.ceil(F.lit(0.9) * F.col("n"))
    exact = ranked.groupBy("o_orderstatus").agg(
        F.max("n").alias("n"),
        order_stat(k50).alias("p50_cents"),
        order_stat(k90).alias("p90_cents"),
        order_stat(F.greatest(F.lit(1), k50 - slack)).alias("_lo50"),
        order_stat(F.least(F.col("n"), k50 + slack)).alias("_hi50"),
        order_stat(F.greatest(F.lit(1), k90 - slack)).alias("_lo90"),
        order_stat(F.least(F.col("n"), k90 + slack)).alias("_hi90"),
    )
    approx = o.groupBy("o_orderstatus").agg(
        F.expr(f"percentile_approx(cents, 0.5, {_GK_ACCURACY})").alias("_a50"),
        F.expr(f"percentile_approx(cents, 0.9, {_GK_ACCURACY})").alias("_a90"),
    )
    return exact.join(approx, "o_orderstatus").select(
        "o_orderstatus",
        "n",
        "p50_cents",
        "p90_cents",
        F.col("_a50").between(F.col("_lo50"), F.col("_hi50")).alias("p50_in_bound"),
        F.col("_a90").between(F.col("_lo90"), F.col("_hi90")).alias("p90_in_bound"),
    )


# -- KMV distinct sketch: the estimate itself is oracle-exact ----------------
#
# The HLL row above can only hash a bound-assertion (DuckDB's HLL differs);
# KMV's estimate is a pure function of md5 hashes, so the estimate ITSELF
# value-hashes across engines — the strongest oracle an approximate
# aggregate can carry.  Integer-exact throughout: with k=8, (k-1)*2^60
# fits int64 and the estimate is a bigint DIV.  Mergeability (union of two
# sketches = k smallest of the combined mins) is what q_kmv_set_ops uses.

_KMV_K = 8

_KMV_DISTINCT_ORACLE = f"""
WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
h AS (
  SELECT event_type, user_id,
         {hash60_sql("'kmv:' || user_id")} AS h
  FROM d
),
r AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h, user_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM h
)
SELECT event_type,
       MAX(n) AS exact_users,
       CASE WHEN MAX(n) < {_KMV_K} THEN MAX(n)
            ELSE {(_KMV_K - 1) * TWO_60_INT} // MAX(CASE WHEN rn = {_KMV_K} THEN h END)
       END AS kmv_users
FROM r GROUP BY event_type
"""


@query("q_kmv_distinct", _KMV_DISTINCT_ORACLE)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via the KMV sketch next to the exact
    count.  Unlike q_approx_distinct_users the sketch estimate is hash-exact
    in any engine, so the oracle checks the ESTIMATE, not just a bound.
    Scale shape (operators/sketch.py:kmv_k_mins): distinct shuffle + counted
    agg + tau-pruned per-group top-k — the row_number sort only ever sees
    ~64 hashes per group regardless of corpus size."""
    from ..operators.sketch import kmv_estimate_col, kmv_k_mins

    e = load_table(spark, sf_dir, "events")
    mins = kmv_k_mins(e, "user_id", ["event_type"], k=_KMV_K)
    return (
        mins.groupBy("event_type", "exact_distinct")
        .agg(F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("h_k"))
        .select(
            "event_type",
            F.col("exact_distinct").alias("exact_users"),
            kmv_estimate_col(_KMV_K).alias("kmv_users"),
        )
    )


# Theta-sketch-style set operations from ONE merged KMV sketch: take the k
# smallest hashes of A ∪ B with per-key membership flags carried along;
# |A∪B| ≈ KMV estimate, Jaccard ≈ (both-flagged among the k mins)/k, and
# |A∩B| ≈ Jaccard · |A∪B| — all integer arithmetic on identical hashes, so
# the full row (exact twins AND all three sketch estimates) value-hashes.

_KMV_SETOPS_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN event_type = 'purchase' AND value >= 100 THEN 1 ELSE 0 END) AS in_b
  FROM events GROUP BY user_id
),
f AS (
  SELECT user_id, in_a, in_b,
         {hash60_sql("'kmv:' || user_id")} AS h
  FROM u WHERE in_a = 1 OR in_b = 1
),
r AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY h, user_id) AS rn,
         COUNT(*) OVER () AS n
  FROM f
),
s AS (
  SELECT MAX(n) AS exact_union,
         (SELECT CAST(SUM(in_a * in_b) AS BIGINT) FROM f) AS exact_intersection,
         CASE WHEN MAX(n) < {_KMV_K} THEN MAX(n)
              ELSE {(_KMV_K - 1) * TWO_60_INT} // MAX(CASE WHEN rn = {_KMV_K} THEN h END)
         END AS kmv_union,
         CAST(SUM(CASE WHEN rn <= {_KMV_K} THEN in_a * in_b ELSE 0 END) AS BIGINT) AS k_both,
         LEAST({_KMV_K}, MAX(n)) AS k_eff
  FROM r
)
SELECT exact_union, exact_intersection, kmv_union,
       CAST((k_both * kmv_union) // k_eff AS BIGINT) AS kmv_intersection
FROM s
"""


@query("q_kmv_set_ops", _KMV_SETOPS_ORACLE)
def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|A∪B| and |A∩B| for A = click users, B = big-ticket (value ≥ 100)
    purchase users, exact vs a
    single merged KMV sketch (the theta-sketch pattern: one pass builds the
    union sketch with membership flags; intersection falls out of the
    flagged fraction of the k minima).  At 100 TB this replaces a
    COUNT(DISTINCT) over the union AND a join for the intersection with one
    distinct shuffle + a ~64-row sketch.  Ties on h are key-broken so the
    flag composition of the k minima is deterministic even under hash
    collisions."""
    from ..operators.sketch import kmv_estimate_col, kmv_k_mins

    e = load_table(spark, sf_dir, "events")
    flags = (
        e.groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("in_a"),
            F.max(
                F.when((F.col("event_type") == "purchase") & (F.col("value") >= 100), 1)
                .otherwise(0)
            ).alias("in_b"),
        )
        .filter((F.col("in_a") == 1) | (F.col("in_b") == 1))
    )
    exact = flags.agg(
        F.count(F.lit(1)).alias("exact_union"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("exact_intersection"),
    )
    mins = kmv_k_mins(
        flags.withColumn("_g", F.lit(1)),
        "user_id",
        ["_g"],
        k=_KMV_K,
        carry_cols=["in_a", "in_b"],
    )
    sk = mins.groupBy("_g", "exact_distinct").agg(
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("h_k"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("k_both"),
    )
    sk = sk.select(
        kmv_estimate_col(_KMV_K).alias("kmv_union"),
        "k_both",
        F.least(F.lit(_KMV_K), F.col("exact_distinct")).alias("k_eff"),
    )
    return exact.crossJoin(sk).select(
        "exact_union",
        "exact_intersection",
        "kmv_union",
        F.expr("(k_both * kmv_union) DIV k_eff").alias("kmv_intersection"),
    )
