"""Analytics surface: frequency counts, majority vote, seeded/weighted
sampling, surrogate keys, JSON extraction, time-window rollups, scalar
normalization (SURVEY §2.4 A1–A4, §2.5 W1–W2, §2.8 F1/F2/F6/F13, §2.9 U3).

Every query here is oracle-checked: the md5-randomness and exact-arithmetic
discipline (functions/determinism.py) makes seeded sampling reproducible in
DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..functions.determinism import TWO_60_SQL, cents, hash60_sql
from ..functions.normalize import normalize_colname, option_letter, truncate_values
from ..operators.sampling import most_frequent, random_sample, weighted_sample
from ..operators.sketch import BloomShape, bloom_bitmap, bloom_bits_predicate
from ..operators.surrogate import map_pk_dim
from ..sources.readers import load_table
from .registry import query


# -- A1: frequency count ------------------------------------------------------

_VALUE_COUNTS_ORACLE = """
SELECT event_type, COUNT(*) AS cnt
FROM events
GROUP BY event_type
"""


@query("q_value_counts", _VALUE_COUNTS_ORACLE)
def q_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))


# -- A2: top-n most frequent per group ---------------------------------------

_TOP_FREQUENT_ORACLE = """
SELECT p_brand, p_type, cnt, freq_rank FROM (
  SELECT p_brand, p_type, COUNT(*) AS cnt,
         ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY COUNT(*) DESC, p_type ASC) AS freq_rank
  FROM part
  GROUP BY p_brand, p_type
) WHERE freq_rank <= 3
"""


@query("q_top_frequent", _TOP_FREQUENT_ORACLE)
def q_top_frequent(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return most_frequent(p, "p_type", 3, partition_by=["p_brand"]).select(
        "p_brand", "p_type", "cnt", "freq_rank"
    )


# -- A3: majority vote (keep all values tied at max, per key) ----------------

_MAJORITY_ORACLE = """
SELECT user_id, event_type, cnt FROM (
  SELECT user_id, event_type, COUNT(*) AS cnt,
         MAX(COUNT(*)) OVER (PARTITION BY user_id) AS max_cnt
  FROM events
  GROUP BY user_id, event_type
) WHERE cnt = max_cnt
"""


@query("q_majority_vote", _MAJORITY_ORACLE)
def q_majority_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirrors eval_ensemble.py:70-88: count votes per (key, candidate);
    keep every candidate tied at the per-key max."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    win = W.partitionBy("user_id")
    return (
        counts.withColumn("max_cnt", F.max("cnt").over(win))
        .filter(F.col("cnt") == F.col("max_cnt"))
        .select("user_id", "event_type", "cnt")
    )


# -- seeded random sample (InstanceDataHandler `random` sampler) -------------

_SEEDED_SAMPLE_ORACLE = """
SELECT o_orderkey, sample_rank FROM (
  SELECT o_orderkey,
         ROW_NUMBER() OVER (ORDER BY md5('42:' || o_orderkey)) AS sample_rank
  FROM orders
) WHERE sample_rank <= 20
"""


@query("q_seeded_sample", _SEEDED_SAMPLE_ORACLE)
def q_seeded_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return random_sample(o, 20, 42, ["o_orderkey"]).select("o_orderkey", "sample_rank")


# -- seeded weighted sample (A-ES reservoir key u^(1/w)) ---------------------

_WEIGHTED_SAMPLE_ORACLE = f"""
SELECT p_partkey, sample_rank FROM (
  SELECT p_partkey,
         ROW_NUMBER() OVER (
           ORDER BY pow({hash60_sql("'7:' || p_partkey")} / {TWO_60_SQL},
                        1.0 / p_retailprice) DESC,
                    p_partkey ASC) AS sample_rank
  FROM part
) WHERE sample_rank <= 15
"""


@query("q_weighted_sample", _WEIGHTED_SAMPLE_ORACLE)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return weighted_sample(p, 15, 7, F.col("p_retailprice"), ["p_partkey"]).select(
        "p_partkey", "sample_rank"
    )


# -- U3: map_pk surrogate keys (rank-by-value contract) ----------------------

_SURROGATE_ORACLE = """
SELECT c_mktsegment, DENSE_RANK() OVER (ORDER BY c_mktsegment) - 1 AS pk_id
FROM (SELECT DISTINCT c_mktsegment FROM customer)
"""


@query("q_surrogate_keys", _SURROGATE_ORACLE)
def q_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return map_pk_dim(c, "c_mktsegment").select("c_mktsegment", "pk_id")


# -- F3/F4: JSON extraction + aggregation ------------------------------------

_JSON_ORACLE = """
SELECT event_type,
       CAST(SUM(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
       COUNT(json_extract(props, '$.k')) AS n_k
FROM events
GROUP BY event_type
"""


@query("q_json_props", _JSON_ORACLE)
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(k).alias("n_k")
    )


# -- time-window rollup (batch twin of the streaming path) -------------------

_HOURLY_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       SUM(CAST(round(value * 10000, 0) AS BIGINT)) / 10000.0 AS sum_value
FROM events
GROUP BY 1, 2
"""


@query("q_events_hourly", _HOURLY_ORACLE)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents("value", 10000)) / F.lit(10000.0)).alias("sum_value"),
        )
    )


# -- F1/F2/F6/F13: scalar normalization chain --------------------------------

_NORMALIZE_ORACLE = """
SELECT p_partkey,
       regexp_replace(regexp_replace(regexp_replace(lower(p_type), '[ ()-]+', '_', 'g'),
                                     '_+', '_', 'g'),
                      '^_|_$', '', 'g') AS norm_type,
       CASE WHEN length(p_name) > 15 THEN substr(p_name, 1, 15) || '...' ELSE p_name END AS short_name,
       chr(65 + (p_size % 26)) AS size_letter
FROM part
"""


@query("q_normalize_chain", _NORMALIZE_ORACLE)
def q_normalize_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        normalize_colname("p_type").alias("norm_type"),
        truncate_values("p_name", 15).alias("short_name"),
        option_letter(F.col("p_size") % 26).alias("size_letter"),
    )


# -- A5 multi-dimensional aggregation via CUBE (grouping sets) ---------------

_CUBE_ORACLE = """
SELECT o_orderpriority, o_orderstatus,
       COUNT(*) AS n_orders,
       SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0 AS total_price
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


@query("q_orders_cube", _CUBE_ORACLE)
def q_orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5's repeated dimensional groupings as one GROUPING SETS pass
    (SURVEY §2.4 note): cube over (priority, status) replaces the
    reference's per-dimension groupBy loops with a single shuffle."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(cents(o.o_totalprice)) / F.lit(100.0)).alias("total_price"),
    )


# -- ColumnWise random_unique sampler ----------------------------------------

_UNIQUE_SAMPLE_ORACLE = """
SELECT o_orderpriority, sample_rank FROM (
  SELECT o_orderpriority,
         ROW_NUMBER() OVER (ORDER BY md5('9:' || o_orderpriority)) AS sample_rank
  FROM (SELECT DISTINCT o_orderpriority FROM orders)
) WHERE sample_rank <= 3
"""


@query("q_unique_value_sample", _UNIQUE_SAMPLE_ORACLE)
def q_unique_value_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColumnWise `random_unique`: distinct column values, seeded sample
    (InstanceDataHandler.py:455-470)."""
    from ..operators.sampling import unique_value_sample

    o = load_table(spark, sf_dir, "orders")
    return unique_value_sample(o, "o_orderpriority", 3, 9).select(
        "o_orderpriority", "sample_rank"
    )


# -- exact percentiles (order statistics; additive profiling surface) --------

_PERCENTILE_ORACLE = """
SELECT o_orderstatus,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.9) AS p90,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM orders GROUP BY o_orderstatus
"""


@query("q_price_percentiles", _PERCENTILE_ORACLE)
def q_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    `quantile_cont` bit-for-bit on identical inputs; verified)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


# -- lead/lag + rolling window analytics -------------------------------------

_ACTIVITY_ORACLE = """
SELECT event_id, user_id,
       (epoch_us(ts) - epoch_us(LAG(ts) OVER w)) AS gap_us,
       SUM(CAST(round(value * 10000, 0) AS BIGINT))
         OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) / 10000.0 AS rolling3_value,
       ROW_NUMBER() OVER w AS event_seq
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@query("q_user_activity_windows", _ACTIVITY_ORACLE)
def q_user_activity_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic frames the reference never needed (SURVEY §2.5 notes their
    absence) but any event pipeline does: lag gap, rolling 3-event exact
    sum, per-user sequence number."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us"),
        (
            F.sum(cents("value", 10000)).over(w.rowsBetween(-2, 0)) / F.lit(10000.0)
        ).alias("rolling3_value"),
        F.row_number().over(w).alias("event_seq"),
    )


# -- table profiling (data-quality surface for pipeline ingestion) -----------

_PROFILE_ORACLE = """
SELECT 'o_custkey' AS col_name,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       COUNT(DISTINCT o_custkey) AS n_distinct,
       CAST(MIN(o_custkey) AS DOUBLE) AS min_val,
       CAST(MAX(o_custkey) AS DOUBLE) AS max_val
FROM orders
UNION ALL
SELECT 'o_totalprice', COUNT(*),
       CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT o_totalprice), MIN(o_totalprice), MAX(o_totalprice)
FROM orders
"""


@query("q_profile_orders", _PROFILE_ORACLE)
def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (null rate, cardinality, range) — the ingestion
    health check a training-data pipeline runs before anything else.  One
    scan per profiled column set; exact counts."""
    o = load_table(spark, sf_dir, "orders")

    def profile(col: str) -> DataFrame:
        return o.agg(
            F.lit(col).alias("col_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)).alias("n_null"),
            F.countDistinct(col).alias("n_distinct"),
            F.min(col).cast("double").alias("min_val"),
            F.max(col).cast("double").alias("max_val"),
        )

    return profile("o_custkey").unionByName(profile("o_totalprice"))


# -- as-of join: latest order at event time ----------------------------------

_ASOF_ORACLE = """
WITH cand AS (
  SELECT e.event_id, o.o_orderkey, o.o_orderdate, o.o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM events e JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
)
SELECT e.event_id, e.user_id, e.ts, c.o_orderkey, c.o_orderdate, c.o_totalprice
FROM events e LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c USING (event_id)
"""


@query("q_asof_latest_order", _ASOF_ORACLE)
def q_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: each event carries the customer's most
    recent order as of the event timestamp (operators/asof.py union-window
    formulation — one shuffle on the key, vs the oracle's candidate-join
    spelling which explodes per-event candidates)."""
    from ..operators.asof import asof_join

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders")
    return asof_join(
        e,
        o,
        on_left="user_id",
        on_right="o_custkey",
        t_left="ts",
        t_right="o_orderdate",
        payload=["o_orderkey", "o_orderdate", "o_totalprice"],
        tiebreak="o_orderkey",
    )


# -- bucketized range join: context events before each purchase --------------

_RANGE_JOIN_ORACLE = """
SELECT p.event_id, p.user_id, p.ts,
       COUNT(c.event_id) AS n_context,
       COALESCE(SUM(CAST(round(c.value * 10000, 0) AS BIGINT)), 0) / 10000.0 AS ctx_value
FROM events p
LEFT JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type IN ('view', 'click')
 AND c.ts >= p.ts - INTERVAL 1 HOUR
 AND c.ts < p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id, p.user_id, p.ts
"""


@query("q_range_join_purchase_context", _RANGE_JOIN_ORACLE)
def q_range_join_purchase_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join via operators/rangejoin.py: views/clicks in the hour
    before each purchase by the same user.  The oracle spells the naive
    theta join; the engine runs the bucketized equi-join (bounded fan-out,
    one shuffle on (user, hour-bucket)) — same rows, scale-safe plan."""
    from ..operators.rangejoin import bucketed_range_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    context = e.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
    )
    pairs = bucketed_range_join(
        purchases,
        context,
        on_left="user_id",
        on_right="c_user",
        t_left="ts",
        t_right="c_ts",
        lo_s=-3600,
        hi_s=0,
    )
    counts = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_context"),
        (F.sum(cents("c_value", 10000)) / F.lit(10000.0)).alias("ctx_value"),
    )
    return (
        purchases.join(counts, "event_id", "left_outer")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.coalesce(F.col("n_context"), F.lit(0)).alias("n_context"),
            F.coalesce(F.col("ctx_value"), F.lit(0.0)).alias("ctx_value"),
        )
    )


# -- count-min sketch over the fact key --------------------------------------

_CMS_ORACLE = f"""
WITH keyc AS (SELECT l_suppkey AS key, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
probes AS (
  SELECT key, cnt, j,
         {hash60_sql("j || ':' || key")} % 256 AS col
  FROM keyc CROSS JOIN (SELECT unnest(range(0, 4)) AS j)
),
cells AS (SELECT j, col, CAST(SUM(cnt) AS BIGINT) AS cell FROM probes GROUP BY j, col)
SELECT p.key AS l_suppkey, p.cnt AS exact_cnt, MIN(c.cell) AS est_cnt
FROM probes p JOIN cells c ON p.j = c.j AND p.col = c.col
GROUP BY p.key, p.cnt
"""


@query("q_cms_supplier_counts", _CMS_ORACLE)
def q_cms_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (depth 4 × width 256) over lineitem's supplier key:
    per-key exact count vs sketch estimate.  md5-derived hashing makes every
    cell engine-exact, so even the *estimates* oracle-match bit-for-bit."""
    from ..operators.sketch import cms_estimates

    l = load_table(spark, sf_dir, "lineitem")
    return cms_estimates(l, "l_suppkey", depth=4, width=256).select(
        F.col("key").alias("l_suppkey"), "exact_cnt", "est_cnt"
    )


# -- hypertable-style multi-resolution time rollup ---------------------------

_MULTIRES_ORACLE = """
SELECT day, hour, is_day_total, n_events, sum_value FROM (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CASE WHEN GROUPING(date_trunc('hour', ts)) = 0
              THEN CAST(date_trunc('hour', ts) AS TIMESTAMP) END AS hour,
         GROUPING(date_trunc('hour', ts)) AS is_day_total,
         GROUPING(date_trunc('day', ts)) AS g_day,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(round(value * 10000, 0) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_value
  FROM events
  GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts))
) WHERE g_day = 0
"""


@query("q_events_rollup_multires", _MULTIRES_ORACLE)
def q_events_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate shape: hour- and day-resolution
    rollups of the event stream in ONE pass (ROLLUP grouping sets — Spark
    computes both resolutions from a single shuffle with partial aggs).
    GROUPING() filters ride in a subquery: Spark cannot resolve GROUPING()
    inside HAVING over the pre-aggregate column."""
    return spark.sql(
        """
        SELECT day, hour, is_day_total, n_events, sum_value FROM (
          SELECT date_trunc('day', ts) AS day,
                 CASE WHEN GROUPING(date_trunc('hour', ts)) = 0
                      THEN date_trunc('hour', ts) END AS hour,
                 GROUPING(date_trunc('hour', ts)) AS is_day_total,
                 GROUPING(date_trunc('day', ts)) AS g_day,
                 COUNT(*) AS n_events,
                 CAST(SUM(CAST(round(value * 10000, 0) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_value
          FROM {events}
          GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts))
        ) WHERE g_day = 0
        """,
        events=load_table(spark, sf_dir, "events"),
    )


# -- deterministic stratified sampling (sampleBy analog) ---------------------

_STRATIFIED_ORACLE = f"""
SELECT o_orderkey, o_orderstatus FROM orders
WHERE {hash60_sql("'13:' || o_orderkey")} / {TWO_60_SQL}
      < CASE o_orderstatus WHEN 'F' THEN 0.02 WHEN 'O' THEN 0.1 ELSE 0.0 END
"""


@query("q_stratified_sample", _STRATIFIED_ORACLE)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum sampling rates as a pure row-local predicate
    (operators/sampling.stratified_sample): 2% of finished orders, 10% of
    open ones, everything else dropped — recompute-stable and
    oracle-reproducible, unlike RNG-state sampleBy."""
    from ..operators.sampling import stratified_sample

    o = load_table(spark, sf_dir, "orders")
    return stratified_sample(
        o, "o_orderstatus", {"F": 0.02, "O": 0.1}, seed=13, key_cols=["o_orderkey"]
    ).select("o_orderkey", "o_orderstatus")


# -- skew-salted join as a declared query -------------------------------------

_SALTED_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_lineitems,
       SUM(CAST(round(((l_extendedprice * (1 - l_discount)) * 100), 0) AS BIGINT)) / 100.0 AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


@query("q_salted_join_revenue", _SALTED_ORACLE)
def q_salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order priority computed through the explicit skew-salt
    path: lineitem (hot side) salted 8 ways on deterministic md5 salt, the
    orders projection replicated per salt — one hot orderkey spreads over 8
    shuffle partitions instead of 1.  The oracle is the plain join+rollup,
    so the salting is proven a pure execution-strategy change (identical
    results).  On real skew you'd reach for this when AQE's runtime split
    can't see the skew (e.g. pre-aggregation build side)."""
    from ..operators.skew import salted_join

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(
        l, o, on="l_orderkey", salt_factor=8,
        salt_key_cols=["l_orderkey", "l_extendedprice", "l_discount"],
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        (F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))) / F.lit(100.0)).alias("revenue"),
    )


# -- forward as-of join: next order after event time --------------------------

_ASOF_FWD_ORACLE = """
WITH cand AS (
  SELECT e.event_id, o.o_orderkey, o.o_orderdate, o.o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate ASC, o.o_orderkey DESC) AS rn
  FROM events e JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
)
SELECT e.event_id, e.user_id, e.ts, c.o_orderkey, c.o_orderdate, c.o_totalprice
FROM events e LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c USING (event_id)
"""


@query("q_asof_next_order", _ASOF_FWD_ORACLE)
def q_asof_next_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each event carries the customer's NEXT order (smallest
    o_orderdate >= ts) — conversion-attribution shape.  Same single-shuffle
    union-window plan as the backward variant, time traversal reversed
    (operators/asof.py direction='forward'); the oracle spells the naive
    candidate join."""
    from ..operators.asof import asof_join

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders")
    return asof_join(
        e,
        o,
        on_left="user_id",
        on_right="o_custkey",
        t_left="ts",
        t_right="o_orderdate",
        payload=["o_orderkey", "o_orderdate", "o_totalprice"],
        tiebreak="o_orderkey",
        direction="forward",
    )


# -- unpivot (wide metrics -> long rows) --------------------------------------
# The inverse of q_pivot_status_priority: per-status order metrics unpivoted
# into (status, metric, value) rows — the melt a feature store runs before a
# generic metric sink.  Spark's native UNPIVOT (expression-only, map-side,
# no shuffle beyond the feeding agg) vs DuckDB's UNPIVOT.

_UNPIVOT_ORACLE = """
WITH wide AS (
  SELECT o_orderstatus,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents_total
  FROM orders GROUP BY o_orderstatus
)
SELECT o_orderstatus, metric, value
FROM wide UNPIVOT (value FOR metric IN (n_orders, n_customers, cents_total))
"""


@query("q_unpivot_status_metrics", _UNPIVOT_ORACLE)
def q_unpivot_status_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).alias("cents_total"),
    )
    return wide.unpivot(
        "o_orderstatus", ["n_orders", "n_customers", "cents_total"], "metric", "value"
    )


# -- time-series gap filling --------------------------------------------------
# Dense hourly series per event type: the calendar spine is generated with
# sequence() between the observed min/max hour (a 1-row broadcast scalar,
# never a driver round trip), left-joined against the hourly rollup, gaps
# zero-filled, with a flag so downstream interpolation knows what was
# synthesized.  At scale the spine is hours x types — tiny next to events —
# and broadcasts into the join.

_GAPFILL_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
spine AS (
  SELECT t.event_type, u.h
  FROM (SELECT DISTINCT event_type FROM hourly) t
  CROSS JOIN (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM bounds) u
)
SELECT s.event_type, s.h AS hour_start,
       COALESCE(e.n_events, 0) AS n_events,
       CAST(CASE WHEN e.n_events IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap
FROM spine s LEFT JOIN hourly e ON s.event_type = e.event_type AND s.h = e.h
"""


@query("q_events_gapfill", _GAPFILL_ORACLE)
def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    types = hourly.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    return (
        spine.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.col("h").alias("hour_start"),
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
            F.when(F.col("n_events").isNull(), 1).otherwise(0).cast("int").alias("is_gap"),
        )
    )


# -- cohort retention (classic product-analytics rollup) ---------------------
# Cohort = the calendar day of a user's first event; retention = for each
# (cohort_day, day_offset) cell, how many of that cohort's users were active
# offset days later.  Scale shape: two hash aggregations keyed on user_id
# (first-event day; distinct active days) that share a shuffle key, one
# same-key join, then a cells aggregation on (cohort_day, offset) whose
# cardinality is days² — tiny.  Cohort sizes are a broadcast dimension.
# No windows, no skew (user_id is uniform), every step partial-aggregates
# map-side — this plan is unchanged at 1000 executors.

_COHORT_ORACLE = """
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events
),
sizes AS (
  SELECT cohort_day, COUNT(*) AS n_cohort FROM firsts GROUP BY cohort_day
),
cells AS (
  SELECT f.cohort_day, date_diff('day', f.cohort_day, a.active_day) AS day_offset,
         COUNT(*) AS n_active
  FROM active a JOIN firsts f USING (user_id)
  GROUP BY 1, 2
)
SELECT c.cohort_day, c.day_offset, c.n_active, s.n_cohort,
       c.n_active * 1.0 / s.n_cohort AS retention
FROM cells c JOIN sizes s USING (cohort_day)
"""


@query("q_cohort_retention", _COHORT_ORACLE)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    firsts = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    active = e.select("user_id", day.alias("active_day")).distinct()
    sizes = firsts.groupBy("cohort_day").agg(F.count(F.lit(1)).alias("n_cohort"))
    cells = (
        active.join(firsts, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("active_day", "cohort_day").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return cells.join(F.broadcast(sizes), "cohort_day").select(
        "cohort_day",
        "day_offset",
        "n_active",
        "n_cohort",
        (F.col("n_active") * F.lit(1.0) / F.col("n_cohort")).alias("retention"),
    )


# -- ordered event funnel (view -> click -> purchase) ------------------------
# Strict-order funnel: a click counts only if the same user had an earlier
# view; a purchase only if it follows such a click.  Single-shuffle plan:
# one window sort per user computes running "earliest qualifying previous
# stage" timestamps, so the whole funnel is scan -> one shuffle+sort ->
# aggregate.  The naive alternative (one join per stage) shuffles the events
# table once per funnel step — at 100 TB that's 3 full shuffles vs 1 here.
# The strictness predicate is an explicit `<` comparison, so same-timestamp
# stage pairs never qualify (deterministic regardless of within-ts order).

_FUNNEL_ORACLE = """
WITH s1 AS (
  SELECT user_id, ts, event_type,
         MIN(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view
  FROM events
),
s2 AS (
  SELECT user_id, ts, event_type, prior_view,
         MIN(CASE WHEN event_type = 'click' AND prior_view < ts THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_click
  FROM s1
),
flags AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS did_view,
         MAX(CASE WHEN event_type = 'click' AND prior_view < ts THEN 1 ELSE 0 END) AS did_click,
         MAX(CASE WHEN event_type = 'purchase' AND prior_click < ts THEN 1 ELSE 0 END) AS did_purchase
  FROM s2 GROUP BY user_id
)
SELECT CAST(SUM(did_view) AS BIGINT) AS n_view,
       CAST(SUM(did_click) AS BIGINT) AS n_click,
       CAST(SUM(did_purchase) AS BIGINT) AS n_purchase,
       SUM(did_click) * 1.0 / SUM(did_view) AS view_to_click,
       SUM(did_purchase) * 1.0 / SUM(did_click) AS click_to_purchase
FROM flags
"""


@query("q_event_funnel", _FUNNEL_ORACLE)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import funnel_user_flags

    e = load_table(spark, sf_dir, "events")
    flags = funnel_user_flags(e, ["view", "click", "purchase"])
    return flags.agg(
        F.sum("did_0").alias("n_view"),
        F.sum("did_1").alias("n_click"),
        F.sum("did_2").alias("n_purchase"),
        (F.sum("did_1") * F.lit(1.0) / F.sum("did_0")).alias("view_to_click"),
        (F.sum("did_2") * F.lit(1.0) / F.sum("did_1")).alias(
            "click_to_purchase"
        ),
    )


# -- session path mining (top event-type sequences) --------------------------
# Clickstream path analysis: 30-minute-gap sessionization (gaps-and-islands
# via lag + running sum), each session reduced to its first five event types
# joined "a>b>c", then the top-10 most common paths.  Scale shape: ONE
# shuffle+sort per user computes gap flags, session ids, AND the in-session
# event order; the per-path rollup is a hash agg on a short string; top-10
# is TakeOrderedAndProject.  Path extraction uses sort_array(collect_list)
# per session — bounded by the session-length cap, not corpus size.

_SESSION_PATHS_ORACLE = """
WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ts - LAG(ts) OVER w <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM marked
),
paths AS (
  SELECT user_id, sess,
         array_to_string(list_slice(list(event_type ORDER BY ts, event_id), 1, 5), '>') AS path
  FROM sessioned GROUP BY user_id, sess
)
SELECT path, cnt, path_rank FROM (
  SELECT path, COUNT(*) AS cnt,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, path ASC) AS path_rank
  FROM paths GROUP BY path
) WHERE path_rank <= 10
"""


@query("q_session_paths", _SESSION_PATHS_ORACLE)
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ok = (
        F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long")
    ) <= 1800
    marked = e.withColumn("is_new", F.when(gap_ok, 0).otherwise(1))
    sessioned = marked.withColumn(
        "sess", F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    paths = (
        sessioned.groupBy("user_id", "sess")
        .agg(
            F.concat_ws(
                ">",
                F.slice(
                    F.transform(
                        F.sort_array(
                            F.collect_list(
                                F.struct("ts", "event_id", "event_type")
                            )
                        ),
                        lambda s: s["event_type"],
                    ),
                    1,
                    5,
                ),
            ).alias("path")
        )
    )
    counts = paths.groupBy("path").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), F.asc("path")).limit(10)
    win = W.partitionBy(F.lit(0)).orderBy(F.desc("cnt"), F.asc("path"))
    return top.withColumn("path_rank", F.row_number().over(win))


# -- grouped correlation / OLS from exact integer sums ------------------------
# Pearson r and the OLS slope per group, but NOT via corr()/covar_samp():
# float accumulation order differs between engines (and between Spark's
# partial aggregates and any single-node engine), so those built-ins can't
# carry a hard oracle.  Instead all five moments (Σx, Σy, Σxy, Σx², Σy²)
# accumulate exactly on per-row quantized values — order-free — and the
# closing formula is one double expression over identical integers in both
# engines, hence bit-identical.  The per-row products stay in cheap long
# arithmetic (≤ ~1e14), and the SUMs split by proven headroom: Σy² passes
# int64 (~9.2e18) already at ~2M rows per group — the 10x scale sweep
# caught exactly that overflow — while DuckDB's SUM(BIGINT) silently
# widens to HUGEINT, so Σy² (and Σxy, which crosses at ~1.7e10 rows/group)
# accumulate decimal(38,0) — exact, map-side-combinable, good to ~1e38 —
# and the linear/small-product sums (Σx, Σy, Σx²) stay bigint, each with
# ≥12x headroom at 100 TB group sizes (bounds inline below).  Scale shape:
# one map-side-combined hash aggregation; constant-size moment tuple.

_CORR_ORACLE = """
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(l_quantity AS BIGINT)) AS sx,
         SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS sy,
         SUM(CAST(l_quantity AS BIGINT) * CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS sxy,
         SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
         SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT) * CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
         / (sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
            * sqrt(CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))) AS pearson_r,
       CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
         / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) / 100.0 AS ols_slope,
       (sy / 100.0 / n)
         - (CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
            / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) / 100.0)
           * (CAST(sx AS DOUBLE) / n) AS ols_intercept
FROM m
"""


@query("q_corr_qty_price", _CORR_ORACLE)
def q_corr_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("bigint")
    y = cents("l_extendedprice")
    # Only the sums whose PER-ROW terms are large enough to cross int64 at
    # plausible group sizes pay the decimal(38,0) accumulator (r10 found the
    # Σy² overflow; r11 claws back the rest — VERDICT r10 task #5):
    #   Σx   (x ≤ 50)        bigint-safe to ~1.8e17 rows/group
    #   Σx²  (x² ≤ 2500)     bigint-safe to ~3.7e15 rows/group
    #   Σy   (y ≤ ~1.1e7)    bigint-safe to ~8e11 rows/group — 100 TB TPC-H
    #                        is ~2e11 rows per returnflag, ~12x headroom
    #   Σxy  (xy ≤ ~5.5e8)   crosses int64 at ~1.7e10 rows/group → decimal
    #   Σy²  (y² ≤ ~1.2e14)  crosses int64 at ~7.6e4 rows/group → decimal
    acc = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(acc(x * y)).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(acc(y * y)).alias("syy"),
    )
    # the closing arithmetic also runs in decimal(38,0) — exact integers,
    # mirrored by HUGEINT in the oracle — converting to double only once
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cov_n = (dec(n) * dec(sxy) - dec(sx) * dec(sy)).cast("double")
    var_x = (dec(n) * dec(sxx) - dec(sx) * dec(sx)).cast("double")
    var_y = (dec(n) * dec(syy) - dec(sy) * dec(sy)).cast("double")
    slope = cov_n / var_x / F.lit(100.0)
    return m.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        (cov_n / (F.sqrt(var_x) * F.sqrt(var_y))).alias("pearson_r"),
        slope.alias("ols_slope"),
        ((sy / F.lit(100.0) / n) - slope * (sx.cast("double") / n)).alias(
            "ols_intercept"
        ),
    )


# -- Bloom runtime-filter join pushdown --------------------------------------
# Revenue of URGENT orders by month, with the lineitem scan pre-pruned by a
# Bloom filter built over the filtered orders' keys: joining a fact to a
# FILTERED dimension otherwise shuffles every fact row, most of which never
# match.  The build side's bitmap (operators/sketch.bloom_bitmap, 16 KiB at
# m=2^17 regardless of scale) is collected and embedded as an array literal,
# so the membership predicate is two constant-folded ``element_at`` lookups
# + a bitwise AND per hash in the fact's scan stage BELOW the join Exchange,
# and only ~1/5th of lineitem rows shuffle.  (A first cut indexed a
# hex-string literal with variable-start ``substr``: O(string length) per
# row, 20x slower.)  Spark's own runtime Bloom filter only fires under cost
# heuristics; this is the explicit, always-on form — the join-pruning
# pattern that survives when the dimension's key set itself is too big to
# broadcast.  The oracle is the PLAIN join: the Bloom can only pass extra
# rows and the exact join drops them, so results are identical by
# construction (the filter shapes the plan, never the answer).


def _xxhash_position(j, key, m: int):
    """Bit position of hash ``j`` of ``key``: the JVM-native ``xxhash64``
    (no oracle sees the filter, and md5 positions doubled the query's
    time).  Keys are canonicalized with ``CAST(key AS STRING)`` on BOTH the
    build and probe side: ``xxhash64`` hashes by input type, so a bigint
    probe key against an int build key (a pairing the equi-join itself
    tolerates via implicit widening) would otherwise hash differently and
    silently drop matching rows.  Fractional vs integral key mismatches are
    outside the contract, as they are for the equi-join's own keys."""
    return F.pmod(F.xxhash64(j, key.cast("string")), F.lit(m))


_BLOOM_JOIN = BloomShape(1 << 17, 3, _xxhash_position)

_BLOOM_JOIN_ORACLE = """
SELECT date_trunc('month', o_orderdate) AS order_month,
       COUNT(*) AS n_items,
       SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) / 100.0 AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY 1
"""


@query("q_bloom_join_pushdown", _BLOOM_JOIN_ORACLE)
def q_bloom_join_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load_table(spark, sf_dir, "lineitem")
    words = bloom_bitmap(o, "o_orderkey", _BLOOM_JOIN).first()["words"]
    pruned = li.filter(bloom_bits_predicate("l_orderkey", F.lit(words), _BLOOM_JOIN))
    joined = pruned.join(o, pruned.l_orderkey == o.o_orderkey)
    return joined.groupBy(
        F.trunc("o_orderdate", "month").alias("order_month")
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        (F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))) / F.lit(100.0)).alias("revenue"),
    )


# -- hot/cold split skew join as a declared query -----------------------------

_HOTCOLD_ORACLE = """
SELECT o_orderstatus,
       COUNT(*) AS n_lineitems,
       SUM(CAST(round(((l_extendedprice * (1 - l_discount)) * 100), 0) AS BIGINT)) / 100.0 AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
"""


@query("q_hot_cold_join_revenue", _HOTCOLD_ORACLE)
def q_hot_cold_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew handling #2 (complementing q_salted_join_revenue's salting):
    hot keys (fact frequency > 4) take a broadcast path that never
    shuffles their fact rows; the cold tail takes the normal shuffled
    join; union is the exact join (operators/skew.hot_cold_join).  The
    threshold is set low so both paths carry real rows at every test sf —
    the oracle is the plain join either way."""
    from ..operators.skew import hot_cold_join

    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    o = load_table(spark, sf_dir, "orders")
    joined = hot_cold_join(li, o, "o_orderkey", hot_threshold=4)
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        (F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))) / F.lit(100.0)).alias("revenue"),
    )


# -- batch interval-overlap join (bucketized, each pair exactly once) --------
# Cross-user session concurrency: how many OTHER users' sessions overlap
# each user's sessions in time.  The scale-safe interval join: sessions
# emit one row per 6-hour bucket they touch (bounded fan-out), candidates
# equi-join on the bucket, and each qualifying pair is COUNTED EXACTLY
# ONCE by requiring the join bucket to be the bucket of the later start —
# the standard dedup rule that turns interval joins into equi-joins
# without a global interval index.  The oracle is the plain (unbucketed)
# overlap self-join — the bucketing must be invisible in the result.

_BUCKET_S = 21600

_SESSION_CTE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT user_id,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id,
         ts
  FROM flagged
),
spans AS (
  SELECT user_id, session_id, MIN(ts) AS s, MAX(ts) AS e
  FROM sess GROUP BY user_id, session_id
)
"""

_OVERLAP_ORACLE = _SESSION_CTE + """
SELECT a.user_id, COUNT(*) AS n_overlaps
FROM spans a JOIN spans b
  ON a.user_id <> b.user_id AND a.s <= b.e AND b.s <= a.e
GROUP BY a.user_id
"""


@query("q_session_overlap_join", _OVERLAP_ORACLE)
def q_session_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    order_win = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(order_win)
    flagged = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0),
    )
    spans = (
        flagged.withColumn(
            "session_id",
            F.sum("new_session").over(order_win.rowsBetween(W.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
        # the self-join reads this twice; one shuffle+agg, then cache
    )
    spans = scoped_persist(spans, eager=True)
    bucket_of = lambda c: (F.unix_seconds(c) / _BUCKET_S).cast("bigint")  # noqa: E731
    with_buckets = spans.withColumn(
        "bks", F.sequence(bucket_of(F.col("s")), bucket_of(F.col("e")))
    )
    a = with_buckets.select(
        F.col("user_id").alias("ua"), F.col("s").alias("sa"), F.col("e").alias("ea"),
        F.explode("bks").alias("bk"),
    )
    b = with_buckets.select(
        F.col("user_id").alias("ub"), F.col("s").alias("sb"), F.col("e").alias("eb"),
        F.explode("bks").alias("bk"),
    )
    pairs = (
        a.join(b, "bk")
        .filter(F.col("ua") != F.col("ub"))
        .filter((F.col("sa") <= F.col("eb")) & (F.col("sb") <= F.col("ea")))
        # exactly-once: the pair belongs to the bucket of the LATER start
        .filter(F.col("bk") == bucket_of(F.greatest(F.col("sa"), F.col("sb"))))
    )
    return pairs.groupBy(F.col("ua").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_overlaps")
    )


# -- per-group trend fit (exact-moment OLS over time) -------------------------
# Per-user linear trend of event value over time: the one-pass moment
# aggregation from q_corr_qty_price applied per group with time as the
# regressor.  x = whole minutes since 2024-01-01 (bigint — a FIXED epoch
# offset keeps the pass single and the integers small), y = value in
# exact milli units.  decimal(38,0)/HUGEINT close-out as before.

_TREND_ORACLE = """
WITH m AS (
  SELECT user_id,
         COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM (
    SELECT user_id,
           CAST(floor(epoch(ts)) AS BIGINT) // 60 - 28401120 AS x,
           CAST(round(value * 1000, 0) AS BIGINT) AS y
    FROM events
  )
  GROUP BY user_id
)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
         / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS slope_milli_per_min,
       (CAST(sy AS DOUBLE) / n)
         - (CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
            / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
           * (CAST(sx AS DOUBLE) / n) AS intercept_milli
FROM m
"""


@query("q_user_value_trend", _TREND_ORACLE)
def q_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is read NTZ and x is pure calendar math: the oracle's
    # floor(epoch(naive))//60 - 28401120 equals complete-minutes-since-
    # 2024-01-01 (the anchor is exactly 28401120 epoch minutes) for every
    # event at/after the anchor, and NO session timezone can shift it.
    # unix_seconds on the session-TZ-cast column diverged under non-UTC
    # (r9 CORRECTNESS_TZ sweep) because the absolute epoch never renders
    # back through the inverse cast.
    from ..sources.readers import load_events_ntz

    e = load_events_ntz(spark, sf_dir)
    x = F.expr("timestampdiff(MINUTE, timestamp_ntz'2024-01-01 00:00:00', ts)")
    y = cents("value", 1000)
    # decimal(38,0) moment accumulation as in q_corr_qty_price, clawed back
    # to the sums that can actually cross int64 (VERDICT r10 task #5): the
    # PRODUCT sums Σxy/Σx² (x is minutes-since-epoch-anchor, ~1e7 at decade
    # horizons, so x² ~1e14/row and a heavy per-user history overflows long
    # before 100 TB) stay decimal; the LINEAR sums Σx/Σy (per-row ≤ ~1e8)
    # are bigint-safe to ≥1e10 events per user
    acc = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(acc(x * y)).alias("sxy"),
        F.sum(acc(x * x)).alias("sxx"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    cov_n = (dec(n) * dec(sxy) - dec(sx) * dec(sy)).cast("double")
    var_x = (dec(n) * dec(sxx) - dec(sx) * dec(sx)).cast("double")
    slope = cov_n / var_x
    return m.select(
        "user_id",
        n.cast("bigint").alias("n_events"),
        slope.alias("slope_milli_per_min"),
        ((sy.cast("double") / n) - slope * (sx.cast("double") / n)).alias(
            "intercept_milli"
        ),
    )


# -- NOT IN vs NOT EXISTS null semantics (null-aware anti join) --------------
# The SQL trap every engine must get right: `x NOT IN (subquery)` is
# three-valued — one NULL in the subquery list makes EVERY row's predicate
# UNKNOWN, so the count collapses to 0 — while NOT EXISTS (an anti join)
# ignores NULLs.  Spark plans the former as a null-aware anti join
# (BroadcastNestedLoopJoin with a null check), the latter as a plain left
# anti.  Both engines implement ANSI semantics, so the pair is fully
# value-oracled; the query emits both counts side by side.

_NOTIN_ORACLE = """
SELECT
  (SELECT COUNT(*) FROM customer
   WHERE c_custkey NOT IN (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
                                       ELSE o_custkey END
                           FROM orders WHERE o_totalprice > 150000)) AS notin_count,
  (SELECT COUNT(*) FROM customer c
   WHERE NOT EXISTS (SELECT 1 FROM orders o
                     WHERE o_totalprice > 150000
                       AND (CASE WHEN o_orderstatus = 'P' THEN NULL
                            ELSE o_custkey END) = c.c_custkey)) AS notexists_count
"""


@query("q_notin_null_semantics", _NOTIN_ORACLE)
def q_notin_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT
          (SELECT COUNT(*) FROM {customer}
           WHERE c_custkey NOT IN (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
                                               ELSE o_custkey END
                                   FROM {orders} WHERE o_totalprice > 150000)) AS notin_count,
          (SELECT COUNT(*) FROM {customer} c
           WHERE NOT EXISTS (SELECT 1 FROM {orders} o
                             WHERE o_totalprice > 150000
                               AND (CASE WHEN o_orderstatus = 'P' THEN NULL
                                    ELSE o_custkey END) = c.c_custkey)) AS notexists_count
        """,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


# -- robust outlier detection (IQR fences on exact quantiles) ----------------
# Tukey fences per event type: exact interpolated quartiles (Spark
# `percentile` == DuckDB `quantile_cont` bit-for-bit on identical inputs),
# fences at q1/q3 ± 1.5·IQR, and a second conditional-aggregation pass
# counting rows beyond each fence.  Two scans total: quartiles are
# per-group scalars (broadcast back), so the flagging pass is map-side —
# the shape of every robust data-quality monitor over a fact table.

_OUTLIER_ORACLE = """
WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       COUNT(*) AS n_events,
       q.q1, q.q3,
       CAST(SUM(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
       CAST(SUM(CASE WHEN e.value > q.q3 + 1.5 * (q.q3 - q.q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_high
FROM events e JOIN q USING (event_type)
GROUP BY e.event_type, q.q1, q.q3
"""


@query("q_value_outliers", _OUTLIER_ORACLE)
def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    q = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    low = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    high = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return (
        e.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("value") < low, 1).otherwise(0))
            .cast("bigint")
            .alias("n_low"),
            F.sum(F.when(F.col("value") > high, 1).otherwise(0))
            .cast("bigint")
            .alias("n_high"),
        )
        .select("event_type", "n_events", "q1", "q3", "n_low", "n_high")
    )


# -- Markov transition matrix of event types ---------------------------------
# Per-user event-type bigrams (lag window) rolled into a corpus transition
# matrix with exact row-normalized probabilities (integer milli via DIV —
# no float accumulation).  One shuffle+sort per user, then a tiny hash agg:
# the sequence-mining primitive behind next-action prediction features.

_TRANSITIONS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
t AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
),
r AS (SELECT prev_type, SUM(n) AS row_n FROM t GROUP BY prev_type)
SELECT t.prev_type, t.next_type, CAST(t.n AS BIGINT) AS n,
       CAST((t.n * 1000000) // r.row_n AS BIGINT) AS prob_milli
FROM t JOIN r USING (prev_type)
"""


@query("q_event_transitions", _TRANSITIONS_ORACLE)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    t = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    r = t.groupBy("prev_type").agg(F.sum("n").alias("row_n"))
    return (
        t.join(r, "prev_type")
        .select(
            "prev_type",
            "next_type",
            F.col("n").cast("bigint").alias("n"),
            F.expr("(n * 1000000) DIV row_n").alias("prob_milli"),
        )
    )


# -- RFM segmentation --------------------------------------------------------
# Recency / frequency / monetary per user with FIXED thresholds (the
# production choice — calibrated cutoffs make segmentation map-only after
# the per-user rollup, where ntile would cost a global sort).  Recency is
# measured against the corpus max timestamp (1-row broadcast).

_RFM_ORACLE = """
WITH mx AS (SELECT MAX(ts) AS mx FROM events),
per_user AS (
  SELECT user_id,
         date_diff('day', MAX(ts), (SELECT mx FROM mx)) AS recency_days,
         COUNT(*) AS frequency,
         SUM(CAST(round(value * 100, 0) AS BIGINT)) AS monetary_cents
  FROM events GROUP BY user_id
)
SELECT CASE WHEN recency_days <= 2 THEN 'active' WHEN recency_days <= 7 THEN 'cooling'
            ELSE 'dormant' END AS r_band,
       CASE WHEN frequency >= 80 THEN 'high' WHEN frequency >= 50 THEN 'mid'
            ELSE 'low' END AS f_band,
       CASE WHEN monetary_cents >= 400000 THEN 'big' ELSE 'small' END AS m_band,
       COUNT(*) AS n_users,
       CAST(SUM(monetary_cents) AS BIGINT) AS total_cents
FROM per_user
GROUP BY 1, 2, 3
"""


@query("q_rfm_segments", _RFM_ORACLE)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("mx"))
    per_user = (
        e.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.datediff(F.to_date(F.first("mx")), F.to_date(F.max("ts"))).alias(
                "recency_days"
            ),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(cents("value")).alias("monetary_cents"),
        )
    )
    r_band = (
        F.when(F.col("recency_days") <= 2, "active")
        .when(F.col("recency_days") <= 7, "cooling")
        .otherwise("dormant")
    )
    f_band = (
        F.when(F.col("frequency") >= 80, "high")
        .when(F.col("frequency") >= 50, "mid")
        .otherwise("low")
    )
    m_band = F.when(F.col("monetary_cents") >= 400000, "big").otherwise("small")
    return per_user.groupBy(
        r_band.alias("r_band"), f_band.alias("f_band"), m_band.alias("m_band")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("monetary_cents").cast("bigint").alias("total_cents"),
    )


# -- funnel conversion by signup cohort --------------------------------------
# The funnel operator composed with weekly cohorts: per signup-week cohort,
# how many users completed each strict-order stage.  Same single-shuffle
# funnel core; the cohort dimension joins on user_id (co-keyed with the
# funnel aggregate's own shuffle).

_FUNNEL_COHORT_ORACLE = """
WITH s1 AS (
  SELECT user_id, ts, event_id, event_type,
         MIN(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view
  FROM events
),
s2 AS (
  SELECT user_id, ts, event_type, prior_view,
         MIN(CASE WHEN event_type = 'click' AND prior_view < ts THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_click
  FROM s1
),
flags AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS did_0,
         MAX(CASE WHEN event_type = 'click' AND prior_view < ts THEN 1 ELSE 0 END) AS did_1,
         MAX(CASE WHEN event_type = 'purchase' AND prior_click < ts THEN 1 ELSE 0 END) AS did_2
  FROM s2 GROUP BY user_id
),
cohorts AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week FROM events GROUP BY user_id
)
SELECT CAST(c.cohort_week AS DATE) AS cohort_week,
       COUNT(*) AS n_users,
       CAST(SUM(did_0) AS BIGINT) AS n_view,
       CAST(SUM(did_1) AS BIGINT) AS n_click,
       CAST(SUM(did_2) AS BIGINT) AS n_purchase
FROM flags f JOIN cohorts c USING (user_id)
GROUP BY 1
"""


@query("q_funnel_by_cohort", _FUNNEL_COHORT_ORACLE)
def q_funnel_by_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import funnel_user_flags

    e = load_table(spark, sf_dir, "events")
    flags = funnel_user_flags(e, ["view", "click", "purchase"])
    cohorts = e.groupBy("user_id").agg(
        F.trunc(F.min("ts").cast("date"), "week").alias("cohort_week")
    )
    return (
        flags.join(cohorts, "user_id")
        .groupBy("cohort_week")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("did_0").cast("bigint").alias("n_view"),
            F.sum("did_1").cast("bigint").alias("n_click"),
            F.sum("did_2").cast("bigint").alias("n_purchase"),
        )
    )


# -- seasonality profile (hour-of-day x day-of-week) -------------------------

_SEASONALITY_ORACLE = """
SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,  -- DuckDB Sunday=0, Spark Sunday=1
       CAST(hour(ts) AS INT) AS hod,
       COUNT(*) AS n_events,
       SUM(CAST(round(value * 10000, 0) AS BIGINT)) / 10000.0 AS sum_value
FROM events GROUP BY 1, 2
"""


@query("q_seasonality_profile", _SEASONALITY_ORACLE)
def q_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """168-cell seasonality matrix — one map-side-combined hash agg; the
    classic traffic-shape profile behind anomaly baselines."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(cents("value", 10000)) / F.lit(10000.0)).alias("sum_value"),
    )


# -- market concentration (Herfindahl index per brand) ------------------------
# Supplier revenue concentration per part brand: two-level aggregation
# (revenue per (brand, supplier) in exact cents, then per-brand HHI =
# Σ share²).  The close-out squares bigint cents — decimal(38,0)/HUGEINT
# like the correlation query — and converts to double once, so the index
# is bit-identical cross-engine.  Shape: two hash aggs sharing the brand
# key; no windows, no broadcast needed.

_HHI_ORACLE = """
WITH rev AS (
  SELECT p.p_brand, l.l_suppkey,
         SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
)
SELECT p_brand,
       COUNT(*) AS n_suppliers,
       SUM(cents) / 100.0 AS total_revenue,
       CAST(SUM(CAST(cents AS HUGEINT) * cents) AS DOUBLE)
         / (CAST(CAST(SUM(cents) AS HUGEINT) * SUM(cents) AS DOUBLE)) AS hhi
FROM rev GROUP BY p_brand
"""


@query("q_brand_hhi", _HHI_ORACLE)
def q_brand_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "l_suppkey")
        .agg(F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("cents"))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return rev.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        (F.sum("cents") / F.lit(100.0)).alias("total_revenue"),
        (
            F.sum(dec(F.col("cents")) * dec(F.col("cents"))).cast("double")
            / (dec(F.sum("cents")) * dec(F.sum("cents"))).cast("double")
        ).alias("hhi"),
    )
