"""Core relational surface: scan → filter → join → aggregate → top-k.

These exercise the engine primitives behind SURVEY §2.2–§2.6 on the driver's
TPC-H-ish tables: pushed-down filters/projections, broadcast vs shuffle joins
(Catalyst decides; small dims broadcast), hash aggregation with partial
(map-side) combine, and deterministic top-k.

Exactness: all money aggregates run through integer cents
(functions/determinism.py) so Spark's partial-agg order and DuckDB's
single-node order produce bit-identical results — see that module's docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.determinism import cents
from ..sources.readers import load_table
from .registry import query

# -- q1: pricing summary (TPC-H Q1 shape; SURVEY A5 metric aggregation) ------

_Q1_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) / 100.0 AS sum_qty,
  SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) / 100.0 AS sum_base_price,
  SUM(CAST(round(((l_extendedprice * (1 - l_discount)) * 100), 0) AS BIGINT)) / 100.0 AS sum_disc_price,
  SUM(CAST(round((((l_extendedprice * (1 - l_discount)) * (1 + l_tax)) * 100), 0) AS BIGINT)) / 100.0 AS sum_charge,
  (SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) / 100.0) / COUNT(*) AS avg_qty,
  (SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) / 100.0) / COUNT(*) AS avg_price,
  (SUM(CAST(round(l_discount * 10000, 0) AS BIGINT)) / 10000.0) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query("q1_pricing_summary", _Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = l.l_extendedprice * (1 - l.l_discount)
    charge = disc_price * (1 + l.l_tax)
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(cents(l.l_quantity)) / F.lit(100.0)).alias("sum_qty"),
            (F.sum(cents(l.l_extendedprice)) / F.lit(100.0)).alias("sum_base_price"),
            (F.sum(cents(disc_price)) / F.lit(100.0)).alias("sum_disc_price"),
            (F.sum(cents(charge)) / F.lit(100.0)).alias("sum_charge"),
            ((F.sum(cents(l.l_quantity)) / F.lit(100.0)) / F.count(F.lit(1))).alias("avg_qty"),
            ((F.sum(cents(l.l_extendedprice)) / F.lit(100.0)) / F.count(F.lit(1))).alias("avg_price"),
            ((F.sum(cents(l.l_discount, 10000)) / F.lit(10000.0)) / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# -- q3: shipping-priority top-k (join + agg + deterministic LIMIT) ----------

_Q3_ORACLE = """
SELECT
  l_orderkey,
  SUM(CAST(round(((l_extendedprice * (1 - l_discount)) * 100), 0) AS BIGINT)) / 100.0 AS revenue,
  o_orderdate,
  o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY SUM(CAST(round(((l_extendedprice * (1 - l_discount)) * 100), 0) AS BIGINT)) DESC, l_orderkey
LIMIT 10
"""


@query("q3_shipping_priority", _Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem")
    revenue_cents = F.sum(cents(l.l_extendedprice * (1 - l.l_discount)))
    # customer is the small side at any SF ratio -> broadcast it into orders;
    # orders⋈lineitem shuffles on the join key (the natural key at scale).
    return (
        F.broadcast(c)
        .join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue_cents.alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            (F.col("revenue_cents") / F.lit(100.0)).alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


# -- q5: region revenue rollup (5-way join; broadcast dims) ------------------

_Q5_ORACLE = """
SELECT
  n_name,
  SUM(CAST(round(((l_extendedprice * (1 - l_discount)) * 100), 0) AS BIGINT)) / 100.0 AS revenue,
  COUNT(*) AS n_lineitems
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name IN ('AMERICA', 'ASIA')
GROUP BY n_name
"""


@query("q5_region_revenue", _Q5_ORACLE)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name").isin("AMERICA", "ASIA"))
    # dims are tiny at every SF -> broadcast all three; lineitem never shuffles
    # for the join (only for the final small agg, which AQE coalesces).
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            (F.sum(cents(l.l_extendedprice * (1 - l.l_discount))) / F.lit(100.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# -- q_orders_per_status: simplest scan+agg smoke -----------------------------

_ORDERS_STATUS_ORACLE = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0 AS total_price
FROM orders
GROUP BY o_orderstatus
"""


@query("q_orders_per_status", _ORDERS_STATUS_ORACLE)
def q_orders_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(cents(o.o_totalprice)) / F.lit(100.0)).alias("total_price"),
    )


# -- anti/semi joins + correlated subquery (Catalyst subquery planning) ------

_NO_ORDERS_ORACLE = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


@query("q_customers_without_orders", _NO_ORDERS_ORACLE)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS -> left_anti join (Catalyst rewrites the correlated
    subquery; the engine expresses it declaratively either way)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


_BIG_SPENDERS_ORACLE = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
"""


@query("q_big_spenders", _BIG_SPENDERS_ORACLE)
def q_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


_ABOVE_AVG_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders o
WHERE o_totalprice > (SELECT (SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0)
                             / COUNT(*) * 1.5 FROM orders)
"""


@query("q_above_avg_orders", _ABOVE_AVG_ORACLE)
def q_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery predicate via Spark SQL (exact-cents average so the
    threshold is engine-identical)."""
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM {orders} o
        WHERE o_totalprice > (SELECT (SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0)
                                     / COUNT(*) * 1.5 FROM {orders})
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


# -- q7: volume shipping between nation pairs by year -------------------------

_Q7_ORACLE = """
SELECT supp_nation, cust_nation, l_year,
       SUM(CAST(round(((l_extendedprice * (1 - l_discount)) * 100), 0) AS BIGINT)) / 100.0 AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         EXTRACT(year FROM l_shipdate) AS l_year,
         l_extendedprice, l_discount
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name <> n2.n_name
)
GROUP BY supp_nation, cust_nation, l_year
"""


@query("q7_volume_shipping", _Q7_ORACLE)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    # orders⋈lineitem is the one fact-fact shuffle; every dim broadcasts
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nkey"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg((F.sum(cents(l.l_extendedprice * (1 - l.l_discount))) / F.lit(100.0)).alias("revenue"))
    )


# -- q9: profit by nation and year (retail-price cost proxy) ------------------

_Q9_ORACLE = """
SELECT n_name, EXTRACT(year FROM o_orderdate) AS o_year,
       SUM(CAST(round((((l_extendedprice * (1 - l_discount)) - ((p_retailprice * 0.1) * l_quantity)) * 100), 0) AS BIGINT)) / 100.0 AS profit
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY n_name, EXTRACT(year FROM o_orderdate)
"""


@query("q9_profit", _Q9_ORACLE)
def q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape with a retail-price cost proxy (the synthetic schema
    has no partsupp); amount computed per-row then exact-cents summed."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    p = load_table(spark, sf_dir, "part")
    o = load_table(spark, sf_dir, "orders")
    amount = (l.l_extendedprice * (1 - l.l_discount)) - ((p.p_retailprice * 0.1) * l.l_quantity)
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg((F.sum(cents(amount)) / F.lit(100.0)).alias("profit"))
    )


# -- q10: top returned-revenue customers --------------------------------------

_Q10_ORACLE = """
SELECT c_custkey, c_name, n_name,
       SUM(CAST(round(((l_extendedprice * (1 - l_discount)) * 100), 0) AS BIGINT)) / 100.0 AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY SUM(CAST(round(((l_extendedprice * (1 - l_discount)) * 100), 0) AS BIGINT)) DESC, c_custkey
LIMIT 20
"""


@query("q10_returned_revenue", _Q10_ORACLE)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev_cents = F.sum(cents(l.l_extendedprice * (1 - l.l_discount)))
    return (
        F.broadcast(c)
        .join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(rev_cents.alias("rc"))
        .orderBy(F.desc("rc"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "n_name", (F.col("rc") / F.lit(100.0)).alias("revenue"))
    )


# -- q14: promo revenue share -------------------------------------------------

_Q14_ORACLE = """
SELECT
  (SUM(CASE WHEN p_type = 'PROMO'
            THEN CAST(round(((l_extendedprice * (1 - l_discount)) * 100), 0) AS BIGINT)
            ELSE 0 END) * 100.0)
  / SUM(CAST(round(((l_extendedprice * (1 - l_discount)) * 100), 0) AS BIGINT)) AS promo_revenue_pct,
  COUNT(*) AS n_lineitems
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


@query("q14_promo_share", _Q14_ORACLE)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregate ratio on exact cents: promo revenue share."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rc = cents(l.l_extendedprice * (1 - l.l_discount))
    promo = F.sum(F.when(p.p_type == "PROMO", rc).otherwise(F.lit(0)))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            ((promo * F.lit(100.0)) / F.sum(rc)).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# -- q4: order-priority counting via EXISTS (fact-fact semi join) ------------

_Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


@query("q4_priority_exists", _Q4_ORACLE)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS -> left_semi join. Both sides are facts, so the
    semi join shuffles on l_orderkey/o_orderkey — but the date filter prunes
    orders first and the returnflag filter prunes lineitem before the
    exchange, so the shuffled volume is a fraction of either table. The
    lineitem side projects only l_orderkey (column pruning reaches the scan)."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# -- q6: forecast revenue (pure scan: every predicate pushes to parquet) -----

_Q6_ORACLE = """
SELECT
  SUM(CAST(round(((l_extendedprice * l_discount) * 100), 0) AS BIGINT)) / 100.0 AS revenue,
  COUNT(*) AS n_lineitems
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.04 AND 0.06
  AND l_quantity < 24
"""


@query("q6_forecast_revenue", _Q6_ORACLE)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: no join, no wide shuffle — the whole query is a scan
    with pushed filters + a global agg. At 100 TB this is the pattern whose
    cost is pure I/O; the plan must show PushedFilters on all three columns
    and a 4-column ReadSchema."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(cents(l.l_extendedprice * l.l_discount)) / F.lit(100.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# -- q12: priority mix by line status (conditional counts after fact join) ---

_Q12_ORACLE = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
"""


@query("q12_priority_by_status", _Q12_ORACLE)
def q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (l_shipmode -> l_linestatus on this schema): one
    fact-fact equi-join on the order key with the date filter pruning
    lineitem before the exchange; the agg is two conditional counts with
    map-side partials."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# -- q13: customer order-count distribution (outer join + double agg) --------

_Q13_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


@query("q13_order_distribution", _Q13_ORACLE)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left outer join with an extra join-side predicate
    (COUNT counts only matched rows), then a second aggregation over the
    first's output. The first agg shuffles on c_custkey; the second input is
    |customers| rows, which AQE coalesces to a few partitions."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# -- q18: large-quantity orders (pre-aggregate before the join) --------------

_Q18_ORACLE = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) / 100.0 AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) / 100.0 > 250
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
"""


@query("q18_large_orders", _Q18_ORACLE)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape. Scale strategy: aggregate lineitem per order FIRST
    (one shuffle over the fact, map-side partials), filter to the rare
    > 250-quantity orders, and only then join the two small survivors to
    orders and customer — never join full lineitem to orders. The final
    groupBy is a no-op re-key over already-unique orders and stays cheap."""
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg((F.sum(cents(l.l_quantity)) / F.lit(100.0)).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


# -- q19: disjunctive multi-range predicate (OR of conjunctions) -------------

_Q19_ORACLE = """
SELECT
  SUM(CAST(round(((l_extendedprice * (1 - l_discount)) * 100), 0) AS BIGINT)) / 100.0 AS revenue,
  COUNT(*) AS n_lineitems
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 50 AND l_quantity BETWEEN 20 AND 30)
"""


@query("q19_disjunctive_filter", _Q19_ORACLE)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: a disjunction of conjunctive ranges spanning both
    join sides. Catalyst pushes the single-side implications through the
    join: part gets `p_brand IN (...)`-style derived filters, lineitem gets
    the quantity envelope — so both scans prune before the broadcast join
    evaluates the full OR."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    joined = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    qty, brand, size = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    pred = (
        ((brand == "Brand#12") & size.between(1, 15) & qty.between(1, 11))
        | ((brand == "Brand#23") & size.between(1, 25) & qty.between(10, 20))
        | ((brand == "Brand#3") & size.between(1, 50) & qty.between(20, 30))
    )
    return joined.filter(pred).agg(
        (F.sum(cents(l.l_extendedprice * (1 - l.l_discount))) / F.lit(100.0)).alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


# -- q2 shape: cheapest part per brand (argmin with deterministic tiebreak) --

_Q2_ORACLE = """
SELECT p_brand, p_partkey, p_name, p_retailprice FROM (
  SELECT p_brand, p_partkey, p_name, p_retailprice,
         ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey) AS rn
  FROM part
) WHERE rn = 1
"""


@query("q2_min_cost_part", _Q2_ORACLE)
def q2_min_cost_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's correlated-min shape (no partsupp on this schema): argmin
    per group via a ranking window with a p_partkey tiebreak so the answer
    is unique. One shuffle on p_brand; at scale this is the standard
    'latest/cheapest record per key' pattern."""
    from pyspark.sql import Window as W

    p = load_table(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.asc("p_retailprice"), F.asc("p_partkey"))
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_brand", "p_partkey", "p_name", "p_retailprice")
    )


# -- q11 shape: groups above a fraction of the global total ------------------

_Q11_ORACLE = """
WITH g AS (
  SELECT p_type,
         SUM(CAST(round(((l_extendedprice * (1 - l_discount)) * 100), 0) AS BIGINT)) AS rc
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_type
)
SELECT p_type, rc / 100.0 AS type_revenue
FROM g
WHERE rc > (SELECT SUM(rc) * 0.16 FROM g)
"""


@query("q11_important_types", _Q11_ORACLE)
def q11_important_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: HAVING above a scalar fraction of the global sum.
    The grouped frame is computed ONCE and reused for both the threshold and
    the output (vs the textbook double-scan); the global total is a 1-row
    broadcast cross join. Threshold compares in integer-cents domain."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    g = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_type")
        .agg(F.sum(cents(l.l_extendedprice * (1 - l.l_discount))).alias("rc"))
    )
    total = g.agg((F.sum("rc") * F.lit(0.16)).alias("threshold"))
    return (
        g.crossJoin(F.broadcast(total))
        .filter(F.col("rc") > F.col("threshold"))
        .select("p_type", (F.col("rc") / F.lit(100.0)).alias("type_revenue"))
    )


# -- q15 shape: top revenue supplier(s), ties kept ---------------------------

_Q15_ORACLE = """
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(round(((l_extendedprice * (1 - l_discount)) * 100), 0) AS BIGINT)) AS rc
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, rc / 100.0 AS total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE rc = (SELECT MAX(rc) FROM rev)
"""


@query("q15_top_supplier", _Q15_ORACLE)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: max-over-aggregate with ties kept (= max, not
    LIMIT 1). rev is |suppliers| rows after one fact shuffle; the max is a
    1-row broadcast; supplier joins broadcast. Integer-cents revenue makes
    the tie comparison exact."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    rev = l.groupBy("l_suppkey").agg(F.sum(cents(l.l_extendedprice * (1 - l.l_discount))).alias("rc"))
    mx = rev.agg(F.max("rc").alias("max_rc"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("rc") == F.col("max_rc"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", (F.col("rc") / F.lit(100.0)).alias("total_revenue"))
    )


# -- q21 shape: sole failing supplier in multi-supplier orders ---------------

_Q21_ORACLE = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
"""


@query("q21_sole_failing_supplier", _Q21_ORACLE)
def q21_sole_failing_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape. The textbook EXISTS + NOT EXISTS pair would self-join
    lineitem twice; at 100 TB that is three fact shuffles. Rewrite: one
    per-order aggregate (distinct suppliers, distinct RETURNED suppliers) —
    the EXISTS is `n_supp > 1`, the NOT EXISTS is `n_ret_supp = 1` (l1 itself
    is returned, so 'no OTHER returned supplier' means exactly one). One
    shuffle over lineitem + one key join replaces both correlated scans."""
    l = load_table(spark, sf_dir, "lineitem")
    ordstats = l.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))).alias("n_ret_supp"),
    )
    eligible = ordstats.filter((F.col("n_supp") > 1) & (F.col("n_ret_supp") == 1)).select("l_orderkey")
    s = load_table(spark, sf_dir, "supplier")
    r_lines = l.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    return (
        r_lines.join(eligible, "l_orderkey")
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# -- q22 shape: rich customers with no orders, by nation ---------------------

_Q22_ORACLE = """
SELECT c_nationkey, COUNT(*) AS n_customers,
       SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) / 100.0 AS total_acctbal
FROM customer
WHERE c_acctbal > (SELECT (SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) / 100.0) / COUNT(*)
                   FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
"""


@query("q22_idle_rich_customers", _Q22_ORACLE)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold (average POSITIVE balance,
    exact cents) + NOT EXISTS anti join + grouped rollup. The threshold is a
    1-row broadcast; the anti join shuffles only the filtered-down customer
    side against orders' projected key column."""
    c = load_table(spark, sf_dir, "customer")
    thr = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(((F.sum(cents(c.c_acctbal)) / F.lit(100.0)) / F.count(F.lit(1))).alias("avg_bal"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    rich = c.crossJoin(F.broadcast(thr)).filter(F.col("c_acctbal") > F.col("avg_bal"))
    return (
        rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum(cents(F.col("c_acctbal"))) / F.lit(100.0)).alias("total_acctbal"),
        )
    )


# -- q8 shape: national market share within a region, by year -----------------

_Q8_ORACLE = """
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol_c ELSE 0 END) AS DOUBLE)
         / SUM(vol_c) AS mkt_share
FROM (
  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
         CAST(round(((l_extendedprice * (1 - l_discount)) * 100), 0) AS BIGINT) AS vol_c,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
)
GROUP BY o_year
"""


@query("q8_market_share", _Q8_ORACLE)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: conditional-aggregate ratio (share of one supplier
    nation in a region's market) by order year.  Plan: the only fact-fact
    shuffle is lineitem⋈orders; part/customer/nation/region/supplier all
    broadcast, and the date+type filters reach the scans.  The share divides
    two exact bigint cent-sums, so the double result is bit-stable."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    s = load_table(spark, sf_dir, "supplier")
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    vol_c = cents(l.l_extendedprice * (1 - l.l_discount))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("c_nkey"))
        .join(F.broadcast(r), F.col("c_rkey") == r.r_regionkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol_c).otherwise(F.lit(0))).cast("double")
                / F.sum(vol_c)
            ).alias("mkt_share")
        )
    )


# -- q16 shape: supplier counts per part descriptor, with exclusions ----------

_Q16_ORACLE = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


@query("q16_supplier_part_counts", _Q16_ORACLE)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape on this schema: the part-supplier relation is derived
    from lineitem (no partsupp table); negative-balance suppliers stand in
    for the complaints exclusion.  Plan: distinct-pairs is one fact shuffle
    (map-side combine first); part filters broadcast; the NOT IN is an anti
    join against a tiny broadcast side; COUNT(DISTINCT) re-shuffles only the
    filtered descriptor groups."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = l.select("l_partkey", "l_suppkey").distinct()
    return (
        pairs.join(F.broadcast(p), pairs.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), pairs.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# -- q17 shape: small-quantity revenue vs per-part average --------------------

_Q17_ORACLE = """
WITH pq AS (
  SELECT l_partkey AS pk,
         SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS sum_qc,
         COUNT(*) AS cnt
  FROM lineitem GROUP BY l_partkey
)
SELECT SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) / 100.0 / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN pq ON l_partkey = pk
WHERE p_brand = 'Brand#12'
  AND CAST(round(l_quantity * 100, 0) AS BIGINT) * 5 * cnt < sum_qc
"""


@query("q17_small_quantity_revenue", _Q17_ORACLE)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lineitems below 20% of their part's
    average quantity.  The correlated scalar subquery becomes one per-part
    aggregate joined back to the fact; the 0.2·avg comparison is cross-
    multiplied into pure bigint arithmetic (qty·5·cnt < Σqty) so both
    engines decide each row identically.  Plan: two passes over lineitem,
    one shuffle each on l_partkey — at scale the brand filter prunes the
    probe side before the join."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#12")
    pq = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(cents(F.col("l_quantity"))).alias("sum_qc"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(pq, l.l_partkey == pq.pk)
        .filter(cents(F.col("l_quantity")) * F.lit(5) * F.col("cnt") < F.col("sum_qc"))
        .agg((F.sum(cents(F.col("l_extendedprice"))) / F.lit(100.0) / F.lit(7.0)).alias("avg_yearly"))
    )


# -- q20 shape: suppliers with heavy shipments of a part family ---------------

_Q20_ORACLE = """
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_5'
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
    GROUP BY l_suppkey, l_partkey
    HAVING SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) > 10000
  )
"""


@query("q20_heavy_shippers", _Q20_ORACLE)
def q20_heavy_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested semi-joins — suppliers (in one nation) who
    shipped more than a quantity threshold of any 'small%' part.  Plan: the
    part-family filter broadcasts into the fact scan, the per-(supplier,
    part) aggregate is one shuffle with map-side combine, and both IN
    subqueries become semi joins (no DISTINCT materialization needed)."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    l = load_table(spark, sf_dir, "lineitem")
    fam = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%")).select("p_partkey")
    heavy = (
        l.join(F.broadcast(fam), l.l_partkey == fam.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(cents(F.col("l_quantity"))).alias("sum_qc"))
        .filter(F.col("sum_qc") > 10000)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


# -- pivot: status × priority cross-tab ---------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PIVOT_COLS = {p: "p" + p[0] for p in _PRIORITIES}  # stable, hash-safe names

_PIVOT_ORACLE = """
SELECT o_orderstatus,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS p1,
       CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS p2,
       CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS p3,
       CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS p4,
       CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS p5
FROM orders
GROUP BY o_orderstatus
"""


@query("q_pivot_status_priority", _PIVOT_ORACLE)
def q_pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tab via the relational pivot operator: order counts by status ×
    priority.  Values are pinned explicitly (``pivot(col, values)``) — at
    scale that skips the extra distinct-values job Spark otherwise runs, and
    makes the output schema static for the oracle."""
    o = load_table(spark, sf_dir, "orders")
    pivoted = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, [p for p in _PRIORITIES])
    )
    return pivoted.select(
        "o_orderstatus",
        *[F.col(f"`{p}`").alias(_PIVOT_COLS[p]) for p in _PRIORITIES],
    )


# -- histogram: fixed-width price buckets ------------------------------------

_HISTOGRAM_ORACLE = """
SELECT bucket, COUNT(*) AS n_orders,
       SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0 AS bucket_total
FROM (
  SELECT LEAST(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) // 5000000 AS INT), 9) AS bucket,
         o_totalprice
  FROM orders
)
GROUP BY bucket
"""


@query("q_price_histogram", _HISTOGRAM_ORACLE)
def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (50k-wide buckets, top bucket
    open-ended): bucket assignment in exact cents domain, one hash agg with
    map-side combine — the profiling shape that feeds partition-size and
    skew decisions."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(cents(F.col("o_totalprice")) / F.lit(5000000)).cast("int"), F.lit(9)
    )
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents(F.col("o_totalprice"))) / F.lit(100.0)).alias("bucket_total"),
        )
    )
