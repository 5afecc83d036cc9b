"""Schema-Mapping execution surface (SURVEY §3.3): a full differential
evaluation — simulated LLM SQL script (code fences, inadmissible statements,
bare table names) → admission → namespace qualification → Spark SQL execution
into twin namespaces → EXCEPT/INTERSECT overlap → P/R/F1.

The oracle reproduces the final row-set algebra directly over the base
tables, so this checks the whole execution path end-to-end, not just the
counting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.mapping_engine import MappingEngine, MappingScenario
from ..sources.readers import load_table
from .registry import query
from ..functions.localframe import local_df

_GOLD_SQL = """
INSERT INTO cust_orders
SELECT c_name, o_orderkey, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey;
INSERT INTO big_orders
SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 200000;
"""

# Simulated LLM response: prose + fenced SQL + statements the admission rules
# must drop (CREATE of a target table) + systematic errors (extra filter on
# cust_orders -> FN; looser filter on big_orders -> FP).
_PREDICTED_RESPONSE = """
Here is the mapping you asked for:

```sql
CREATE TABLE cust_orders (c_name TEXT);
INSERT INTO cust_orders
SELECT c_name, o_orderkey, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_totalprice > 50000;
INSERT INTO big_orders
SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 150000;
```

Hope this helps!
"""

_JOIN_SQL = "SELECT c_name, o_orderkey FROM cust_orders JOIN big_orders USING (o_orderkey)"


def _prf1_sql(tp: str, fp: str, fn: str) -> str:
    p = f"CASE WHEN {tp} + {fp} = 0 THEN 0.0 ELSE {tp} / ({tp} + {fp}) END"
    r = f"CASE WHEN {tp} + {fn} = 0 THEN 0.0 ELSE {tp} / ({tp} + {fn}) END"
    return f"""
  CASE WHEN {tp} + {fp} + {fn} = 0 THEN 1.0 ELSE {p} END AS precision,
  CASE WHEN {tp} + {fp} + {fn} = 0 THEN 1.0 ELSE {r} END AS recall,
  CASE WHEN {tp} + {fp} + {fn} = 0 THEN 1.0
       WHEN ({p}) + ({r}) = 0 THEN 0.0
       ELSE (2.0 * ({r}) * ({p})) / (({r}) + ({p})) END AS f1
"""


_MAPPING_ORACLE = f"""
WITH gold_cust AS (
  SELECT c_name, o_orderkey, o_totalprice
  FROM orders JOIN customer ON o_custkey = c_custkey
),
pred_cust AS (
  SELECT c_name, o_orderkey, o_totalprice
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_totalprice > 50000
),
gold_big AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 200000),
pred_big AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 150000),
gold_join AS (SELECT c_name, o_orderkey FROM gold_cust JOIN gold_big USING (o_orderkey)),
pred_join AS (SELECT c_name, o_orderkey FROM pred_cust JOIN pred_big USING (o_orderkey)),
counts AS (
  SELECT 'cust_orders' AS table_name,
         (SELECT COUNT(*) FROM (SELECT * FROM pred_cust INTERSECT SELECT * FROM gold_cust)) AS tp,
         CAST((SELECT COUNT(*) FROM (SELECT * FROM pred_cust EXCEPT SELECT * FROM gold_cust)) AS DOUBLE) AS fp,
         (SELECT COUNT(*) FROM (SELECT * FROM gold_cust EXCEPT SELECT * FROM pred_cust)) AS fn
  UNION ALL
  SELECT 'big_orders',
         (SELECT COUNT(*) FROM (SELECT * FROM pred_big INTERSECT SELECT * FROM gold_big)),
         CAST((SELECT COUNT(*) FROM (SELECT * FROM pred_big EXCEPT SELECT * FROM gold_big)) AS DOUBLE),
         (SELECT COUNT(*) FROM (SELECT * FROM gold_big EXCEPT SELECT * FROM pred_big))
  UNION ALL
  SELECT '__join__',
         (SELECT COUNT(*) FROM (SELECT * FROM pred_join INTERSECT SELECT * FROM gold_join)),
         CAST((SELECT COUNT(*) FROM (SELECT * FROM pred_join EXCEPT SELECT * FROM gold_join)) AS DOUBLE),
         (SELECT COUNT(*) FROM (SELECT * FROM gold_join EXCEPT SELECT * FROM pred_join))
)
SELECT table_name, tp, fp, fn, {_prf1_sql("tp", "fp", "fn")}
FROM counts
"""


@query("q_mapping_overlap", _MAPPING_ORACLE)
def q_mapping_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    scenario = MappingScenario(
        source_tables={
            "orders": load_table(spark, sf_dir, "orders"),
            "customer": load_table(spark, sf_dir, "customer"),
        },
        target_tables={
            "cust_orders": "c_name string, o_orderkey bigint, o_totalprice double",
            "big_orders": "o_orderkey bigint, o_totalprice double",
        },
        gold_sql=_GOLD_SQL,
        meaningful_cols={
            "cust_orders": ["c_name", "o_orderkey", "o_totalprice"],
            "big_orders": ["o_orderkey", "o_totalprice"],
        },
        join_overlap_sql=_JOIN_SQL,
    )
    engine = MappingEngine(spark, scenario)
    result = engine.evaluate(_PREDICTED_RESPONSE)
    from ..operators.overlap import overlap_counts_df

    return overlap_counts_df(spark, result.counts)


# -- P7: subsumed-mapping-rule removal ----------------------------------------

_RULES = [
    ("r1", ["orders"], ["t_orders"]),
    ("r2", ["orders", "customer"], ["t_orders"]),          # subsumes r1
    ("r3", ["orders", "customer"], ["t_orders", "t_cust"]),  # subsumes r1, r2
    ("r4", ["lineitem"], ["t_lines"]),                      # independent
    ("r5", ["lineitem"], ["t_lines"]),                      # duplicate of r4 -> kept (equal sets)
]

_RULES_SQL = ",\n  ".join(
    "('" + r + "', [" + ", ".join(f"'{s}'" for s in srcs) + "], ["
    + ", ".join(f"'{t}'" for t in tgts) + "])"
    for r, srcs, tgts in _RULES
)

_SUBSUMED_ORACLE = f"""
WITH rules AS (SELECT * FROM (VALUES
  {_RULES_SQL}) AS t(rule_id, src_rels, tgt_rels))
SELECT rule_id FROM rules
WHERE rule_id NOT IN (
  SELECT DISTINCT a.rule_id
  FROM rules a JOIN rules b
    ON b.rule_id <> a.rule_id
   AND list_has_all(b.src_rels, a.src_rels)
   AND list_has_all(b.tgt_rels, a.tgt_rels)
   AND (NOT (list_has_all(a.src_rels, b.src_rels) AND list_has_all(a.tgt_rels, b.tgt_rels))
        OR b.rule_id > a.rule_id)
)
"""


@query("q_subsumed_rules", _SUBSUMED_ORACLE)
def q_subsumed_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 (MappingLoader.py:76-88): drop rules whose source+target relation
    sets are subsets of another rule's.  The reference removes sequentially,
    so equal-set duplicates keep only the later rule; the engine's
    deterministic contract is rule-id order: a is removed when subsumed by a
    strict superset, or by an equal-set rule with a greater id."""
    from pyspark.sql import functions as F

    rules = local_df(spark, 
        _RULES, "rule_id string, src_rels array<string>, tgt_rels array<string>"
    )
    a = rules.alias("a")
    b = rules.select(
        F.col("rule_id").alias("b_id"),
        F.col("src_rels").alias("b_src"),
        F.col("tgt_rels").alias("b_tgt"),
    )

    def subset(x: str, y: str):
        return F.size(F.array_except(F.col(x), F.col(y))) == 0

    subsumed = a.join(
        b,
        (F.col("a.rule_id") != F.col("b_id"))
        & subset("a.src_rels", "b_src")
        & subset("a.tgt_rels", "b_tgt")
        & (
            ~(subset("b_src", "a.src_rels") & subset("b_tgt", "a.tgt_rels"))
            | (F.col("b_id") > F.col("a.rule_id"))
        ),
        "left_semi",
    )
    return rules.join(subsumed, "rule_id", "left_anti").select("rule_id")


# -- U3 in the mapping path: gold SQL calling map_pk --------------------------

_MAPPK_GOLD_SQL = """
INSERT INTO cust_dim
SELECT map_pk('customer', 'c_name', c_name), c_name, c_mktsegment FROM customer;
"""

# predicted script re-keys only one segment: every other segment's rows are
# FNs, so the overlap actually exercises the surrogate ids end to end
_MAPPK_PREDICTED = """
```sql
INSERT INTO cust_dim
SELECT map_pk('customer', 'c_name', c_name), c_name, c_mktsegment
FROM customer WHERE c_mktsegment = 'BUILDING';
```
"""

_MAPPK_ORACLE = f"""
WITH dim AS (
  SELECT pk_val, ROW_NUMBER() OVER (ORDER BY pk_val) - 1 AS pk_id
  FROM (SELECT DISTINCT c_name AS pk_val FROM customer)
),
gold AS (
  SELECT pk_id, c_name, c_mktsegment
  FROM customer JOIN dim ON c_name = pk_val
),
pred AS (
  SELECT pk_id, c_name, c_mktsegment
  FROM customer JOIN dim ON c_name = pk_val
  WHERE c_mktsegment = 'BUILDING'
),
counts AS (
  SELECT 'cust_dim' AS table_name,
         (SELECT COUNT(*) FROM (SELECT * FROM pred INTERSECT SELECT * FROM gold)) AS tp,
         CAST((SELECT COUNT(*) FROM (SELECT * FROM pred EXCEPT SELECT * FROM gold)) AS DOUBLE) AS fp,
         (SELECT COUNT(*) FROM (SELECT * FROM gold EXCEPT SELECT * FROM pred)) AS fn
)
SELECT table_name, tp, fp, fn, {_prf1_sql("tp", "fp", "fn")}
FROM counts
"""


@query("q_mapping_map_pk", _MAPPK_ORACLE)
def q_mapping_map_pk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 inside the mapping path: gold AND predicted SQL call
    ``map_pk(tbl, attr, val)``; the rewrite layer turns each call into a
    scalar subquery against the rank-by-value ``__mappk_*`` dimension the
    engine registers on demand (the engine's declared contract for the
    reference's stateful first-seen UDF, DatabaseManager.py:84-95).  The
    oracle derives the same dense ids with a window, so the surrogate keys
    themselves are value-checked through the whole execution path."""
    scenario = MappingScenario(
        source_tables={"customer": load_table(spark, sf_dir, "customer")},
        target_tables={"cust_dim": "pk_id bigint, c_name string, c_mktsegment string"},
        gold_sql=_MAPPK_GOLD_SQL,
        meaningful_cols={"cust_dim": ["pk_id", "c_name", "c_mktsegment"]},
    )
    engine = MappingEngine(spark, scenario)
    result = engine.evaluate(_MAPPK_PREDICTED)
    from ..operators.overlap import overlap_counts_df

    return overlap_counts_df(spark, result.counts)


# -- S6: BibTeX import (sources/bibtex.py) ------------------------------------
# The Amalgam data blob isn't shipped (reference .MISSING_LARGE_BLOBS), so
# the loader is pinned on a synthesized fixture exercising the public
# format's corners: brace-nested values, quoted values, bare numbers,
# @comment skipping, "Last, First" / "von Last, Jr, First" re-ordering,
# co-author splitting, unknown-entry-type skipping, and both surrogate
# regimes (occurrence AuthIDs + shared pk counter).  The oracle is the
# hand-computed golden link table.

_BIB_FIXTURE = """
@article{k1, author = {Doe, John and Alice B. Smith}, title = {A Title},
         year = 1999, journal = {J. Data}}
@comment{ignore me}
@book{k2, author = {von Neumann, Jr, John}, title = {The {Big} Book},
      publisher = "Pub House", year = {2001}}
@phdthesis{k3, author = {Eve Adams}, title = {Thesis}}
@inproceedings{k4, author = {Smith, Alice B. and Doe, John},
               title = {Proc Paper}, booktitle = {Conf}}
"""

_BIBTEX_ORACLE = """
SELECT * FROM (VALUES
  (0, 'Article', 'k1', 0, 'John Doe'),
  (0, 'Article', 'k1', 1, 'Alice B. Smith'),
  (1, 'Book', 'k2', 2, 'John von Neumann Jr'),
  (2, 'InProceedings', 'k4', 4, 'Alice B. Smith'),
  (2, 'InProceedings', 'k4', 5, 'John Doe')
) AS t(pk_id, relation, key, auth_id, name)
"""


@query("q_bibtex_import", _BIBTEX_ORACLE)
def q_bibtex_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.bibtex import author_occurrences, bib_entries_df, route_entries

    entries = bib_entries_df(spark, _BIB_FIXTURE)
    routed = route_entries(entries).select("entry_idx", "pk_id", "relation", "key")
    occ = author_occurrences(entries)
    return routed.join(occ, "entry_idx").select(
        "pk_id", "relation", "key", "auth_id", "name"
    )


# -- the committed multi-rule mapping benchmark (reference shape) --------------
# The reference's mapping pipeline has no committable real dataset (amalgam.zip
# is absent from the reference itself, .MISSING_LARGE_BLOBS), so this is a
# committed benchmark at REFERENCE SHAPE: target schema + rules loaded from
# reference-format XML fixtures (S4/S5), subsumption removal (P7), per-rule
# simulated LLM scripts through admission (P6) → map_pk rewrite (U3) →
# execution → overlap with the timeout sentinel (U8) → per-rule-per-table
# PRF1 — the whole Schema-Mapping pipeline in ONE plan, derive-everything
# oracle (no pinned golden).

import os as _os

_FIXTURE_DIR = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "fixtures"
)

# Per-rule simulated LLM responses: code fences, prose, statements the
# admission rules must drop (CREATE/DROP of a target table), and systematic
# errors (extra filter -> FN, looser filter -> FP, runaway join -> timeout).
_E2E_PREDICTED = {
    "m1": """
Sure — here's the mapping:

```sql
CREATE TABLE t_cust_orders (c_name TEXT);
INSERT INTO t_cust_orders
SELECT c_name, o_orderkey, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 100000;
INSERT INTO t_empty SELECT c_name FROM customer WHERE 1 = 0;
```
""",
    "m2": """
```sql
DROP TABLE t_suppliers;
INSERT INTO t_order_lines
SELECT l_orderkey, l_suppkey, l_quantity, l_extendedprice
FROM lineitem WHERE l_quantity >= 25;
INSERT INTO t_suppliers SELECT s_suppkey, s_name, s_acctbal FROM supplier WHERE s_acctbal > 0;
INSERT INTO t_link SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_quantity >= 25;
```
""",
    "m3": """
```sql
INSERT INTO t_nation_dim
SELECT map_pk('nation', 'n_name', n_name), n_name FROM nation WHERE n_regionkey < 3;
```
""",
    # runaway join: the predicted table's lineage can never evaluate inside
    # the overlap timeout -> the U8 sentinel (FN = |gold|, FP = INF) fires
    "m4": """
```sql
INSERT INTO t_priority_orders
SELECT a.o_orderkey, a.o_orderpriority
FROM orders a CROSS JOIN orders b CROSS JOIN lineitem c CROSS JOIN lineitem d;
```
""",
    "m5": "```sql\nINSERT INTO t_order_lines SELECT l_orderkey, l_suppkey, l_quantity, l_extendedprice FROM lineitem;\n```",
}

_E2E_OVERLAP_TIMEOUTS = {"t_priority_orders": 3.0}

_E2E_ORACLE = f"""
WITH
m1_gold AS (SELECT DISTINCT c_name, o_orderkey, o_totalprice
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE o_orderpriority = '1-URGENT'),
m1_pred AS (SELECT DISTINCT c_name, o_orderkey, o_totalprice
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 100000),
m2_gold_lines AS (SELECT DISTINCT l_orderkey, l_suppkey, l_quantity, l_extendedprice
                  FROM lineitem WHERE l_quantity >= 30),
m2_pred_lines AS (SELECT DISTINCT l_orderkey, l_suppkey, l_quantity, l_extendedprice
                  FROM lineitem WHERE l_quantity >= 25),
m2_gold_supp AS (SELECT DISTINCT s_name, s_acctbal FROM supplier WHERE s_acctbal > 0),
m2_pred_supp AS (SELECT DISTINCT s_name, s_acctbal FROM supplier WHERE s_acctbal > 0),
m2_gold_join AS (SELECT DISTINCT s_name, l_orderkey AS o_orderkey, l_quantity
                 FROM (SELECT DISTINCT l_orderkey, l_suppkey, l_quantity, l_extendedprice
                       FROM lineitem WHERE l_quantity >= 30) g
                 JOIN (SELECT DISTINCT s_suppkey, s_name, s_acctbal
                       FROM supplier WHERE s_acctbal > 0) s ON g.l_suppkey = s.s_suppkey),
m2_pred_join AS (SELECT DISTINCT s_name, l_orderkey AS o_orderkey, l_quantity
                 FROM (SELECT DISTINCT l_orderkey, l_suppkey, l_quantity, l_extendedprice
                       FROM lineitem WHERE l_quantity >= 25) g
                 JOIN (SELECT DISTINCT s_suppkey, s_name, s_acctbal
                       FROM supplier WHERE s_acctbal > 0) s ON g.l_suppkey = s.s_suppkey),
nation_dim AS (SELECT pk_val, ROW_NUMBER() OVER (ORDER BY pk_val) - 1 AS pk_id
               FROM (SELECT DISTINCT n_name AS pk_val FROM nation)),
m3_gold AS (SELECT DISTINCT pk_id, n_name FROM nation JOIN nation_dim ON n_name = pk_val),
m3_pred AS (SELECT DISTINCT pk_id, n_name FROM nation JOIN nation_dim ON n_name = pk_val
            WHERE n_regionkey < 3),
m4_gold_n AS (SELECT COUNT(*) AS n FROM (SELECT o_orderkey, o_orderpriority
              FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))),
counts AS (
  SELECT 'm1' AS rule_id, 't_cust_orders' AS table_name,
         (SELECT COUNT(*) FROM (SELECT * FROM m1_pred INTERSECT SELECT * FROM m1_gold)) AS tp,
         CAST((SELECT COUNT(*) FROM (SELECT * FROM m1_pred EXCEPT SELECT * FROM m1_gold)) AS DOUBLE) AS fp,
         (SELECT COUNT(*) FROM (SELECT * FROM m1_gold EXCEPT SELECT * FROM m1_pred)) AS fn
  UNION ALL
  SELECT 'm2', 't_order_lines',
         (SELECT COUNT(*) FROM (SELECT * FROM m2_pred_lines INTERSECT SELECT * FROM m2_gold_lines)),
         CAST((SELECT COUNT(*) FROM (SELECT * FROM m2_pred_lines EXCEPT SELECT * FROM m2_gold_lines)) AS DOUBLE),
         (SELECT COUNT(*) FROM (SELECT * FROM m2_gold_lines EXCEPT SELECT * FROM m2_pred_lines))
  UNION ALL
  SELECT 'm2', 't_suppliers',
         (SELECT COUNT(*) FROM (SELECT * FROM m2_pred_supp INTERSECT SELECT * FROM m2_gold_supp)),
         CAST((SELECT COUNT(*) FROM (SELECT * FROM m2_pred_supp EXCEPT SELECT * FROM m2_gold_supp)) AS DOUBLE),
         (SELECT COUNT(*) FROM (SELECT * FROM m2_gold_supp EXCEPT SELECT * FROM m2_pred_supp))
  UNION ALL
  SELECT 'm2', '__join__',
         (SELECT COUNT(*) FROM (SELECT * FROM m2_pred_join INTERSECT SELECT * FROM m2_gold_join)),
         CAST((SELECT COUNT(*) FROM (SELECT * FROM m2_pred_join EXCEPT SELECT * FROM m2_gold_join)) AS DOUBLE),
         (SELECT COUNT(*) FROM (SELECT * FROM m2_gold_join EXCEPT SELECT * FROM m2_pred_join))
  UNION ALL
  SELECT 'm3', 't_nation_dim',
         (SELECT COUNT(*) FROM (SELECT * FROM m3_pred INTERSECT SELECT * FROM m3_gold)),
         CAST((SELECT COUNT(*) FROM (SELECT * FROM m3_pred EXCEPT SELECT * FROM m3_gold)) AS DOUBLE),
         (SELECT COUNT(*) FROM (SELECT * FROM m3_gold EXCEPT SELECT * FROM m3_pred))
  UNION ALL
  SELECT 'm4', 't_priority_orders',
         0, CAST('infinity' AS DOUBLE), (SELECT n FROM m4_gold_n)
)
SELECT rule_id, table_name, tp,
       CASE WHEN isinf(fp) THEN NULL ELSE fp END AS fp,
       fn, isinf(fp) AS timed_out, {_prf1_sql("tp", "fp", "fn")}
FROM counts
"""


@query("q_mapping_e2e", _E2E_ORACLE)
def q_mapping_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The committed multi-rule mapping benchmark end-to-end: XML rule load
    (S5) + target-schema XML (S4) → subsumption removal drops m5 (P7) →
    per-rule simulated LLM script through admission (P6: the CREATE and
    DROP of target tables are ignored) → map_pk rewrite (U3, rule m3 on
    both namespaces) → Spark SQL execution → per-table overlap with the
    reference's skips (no-meaningful-columns t_link, all-zero t_empty —
    Evaluator.py:199-216), the multi-target join overlap (J6, rule m2),
    and the overlap timeout sentinel (U8, rule m4's runaway join → FN =
    |gold|, FP = ∞) → per-rule-per-table PRF1.  The oracle re-derives
    every surviving row set and count in SQL over the base tables."""
    from ..operators.metrics import prf1_columns
    from ..sources.xml_loader import (
        load_mapping_xml,
        load_schema_xml,
        remove_subsumed_rules,
    )

    schema = load_schema_xml(
        open(_os.path.join(_FIXTURE_DIR, "mapping_benchmark_schema.xml")).read()
    )
    rules = remove_subsumed_rules(
        load_mapping_xml(
            open(_os.path.join(_FIXTURE_DIR, "mapping_benchmark_mappings.xml")).read()
        )
    )
    rows = []
    for rule in rules:
        targets = {
            t: ", ".join(f"{a.name} {a.type_str}" for a in schema.rel(t).attributes)
            for t in rule.target_relations
        }
        meaningful = {
            t: [a.name for a in schema.rel(t).attributes if a.meaningful]
            for t in rule.target_relations
        }
        scenario = MappingScenario(
            source_tables={
                s: load_table(spark, sf_dir, s) for s in rule.source_relations
            },
            target_tables=targets,
            gold_sql=rule.gold_sql,
            meaningful_cols=meaningful,
            join_overlap_sql=rule.join_overlap_sql,
        )
        engine = MappingEngine(spark, scenario)
        result = engine.evaluate(
            _E2E_PREDICTED[rule.rule_id],
            overlap_timeout_s=_E2E_OVERLAP_TIMEOUTS,
            reference_skips=True,
        )
        rows += [
            (rule.rule_id, c.table, c.tp, float(c.fp), c.fn) for c in result.counts
        ]
    df = local_df(spark, 
        rows, "rule_id string, table_name string, tp bigint, fp double, fn bigint"
    )
    # metrics are computed from the raw counts (0/∞ = 0.0 exactly as the
    # reference reports a timed-out table); the ∞ sentinel itself is then
    # masked to NULL + a timed_out flag — JSON/driver-safe, information-
    # preserving (OverlapCounts keeps math.inf internally, U8 unit pins)
    from pyspark.sql import functions as F

    out = prf1_columns(df, all_zero_is_perfect=True)
    inf = F.col("fp") == F.lit(float("inf"))
    return out.withColumn("timed_out", inf).withColumn(
        "fp", F.when(inf, F.lit(None).cast("double")).otherwise(F.col("fp"))
    ).select(
        "rule_id", "table_name", "tp", "fp", "fn", "timed_out",
        "precision", "recall", "f1",
    )


# -- A12 on the mapping path: pass-rate over (config × seed) runs --------------
# The reference aggregates mapping experiments over the (args, seed) run
# matrix (``AnaylsisUtils.py:121-208``): per (args, seed) the mean F1 and the
# fraction of tests with perfect precision/recall ("tests_passed"), then the
# max over seeds per args.  q_mapping_e2e evaluates ONE simulated response;
# this query runs the full engine for every cell of a 2-config × 2-seed
# matrix of simulated LLM responses and chains execute → overlap → the
# two-level aggregation through ``operators/metrics.pass_rate``.

# (config, seed) -> (t_seg acctbal threshold, t_nat regionkey predicate).
# Gold is th=0 / "< 3"; a lower threshold or wider predicate adds FP rows
# (perfect recall), a higher/narrower one adds FN rows (perfect precision).
_PR_VARIANTS = {
    ("terse", 7): (0, "< 3"),        # both tables perfect
    ("terse", 77): (-1000, "< 2"),   # seg FP, nat FN
    ("cot", 7): (1000, "<= 3"),      # seg FN, nat FP
    ("cot", 77): (0, "< 2"),         # seg perfect, nat FN
}

_PR_GOLD_SQL = """
INSERT INTO t_seg SELECT c_name, c_mktsegment FROM customer WHERE c_acctbal > 0;
INSERT INTO t_nat SELECT n_name FROM nation WHERE n_regionkey < 3;
"""

# simulated response: prose + code fence + a CREATE of a target table the
# admission filter (P6) must drop before execution
_PR_RESPONSE = """
Here is the requested mapping:

```sql
CREATE TABLE t_seg (c_name TEXT);
INSERT INTO t_seg SELECT c_name, c_mktsegment FROM customer WHERE c_acctbal > {th};
INSERT INTO t_nat SELECT n_name FROM nation WHERE n_regionkey {natpred};
```
"""


def _pr_variant_counts_sql(config: str, seed: int, th: int, natpred: str) -> str:
    seg_pred = (
        f"SELECT DISTINCT c_name, c_mktsegment FROM customer WHERE c_acctbal > {th}"
    )
    seg_gold = "SELECT DISTINCT c_name, c_mktsegment FROM customer WHERE c_acctbal > 0"
    nat_pred = f"SELECT DISTINCT n_name FROM nation WHERE n_regionkey {natpred}"
    nat_gold = "SELECT DISTINCT n_name FROM nation WHERE n_regionkey < 3"
    rows = []
    for table, pred, gold in (("t_seg", seg_pred, seg_gold), ("t_nat", nat_pred, nat_gold)):
        rows.append(
            f"SELECT '{config}' AS config, {seed} AS seed, '{table}' AS table_name,\n"
            f"  (SELECT COUNT(*) FROM ({pred} INTERSECT {gold})) AS tp,\n"
            f"  CAST((SELECT COUNT(*) FROM ({pred} EXCEPT {gold})) AS DOUBLE) AS fp,\n"
            f"  (SELECT COUNT(*) FROM ({gold} EXCEPT {pred})) AS fn"
        )
    return "\nUNION ALL\n".join(rows)


_PASS_RATE_ORACLE = f"""
WITH tests AS (
{" UNION ALL ".join(_pr_variant_counts_sql(c, s, th, np) for (c, s), (th, np) in _PR_VARIANTS.items())}
),
prf AS (SELECT config, seed, {_prf1_sql("tp", "fp", "fn")} FROM tests),
per_seed AS (
  SELECT config, seed,
         AVG(f1) AS avg_f1,
         SUM(CASE WHEN precision >= 1.0 THEN 1 ELSE 0 END) AS np_pass,
         SUM(CASE WHEN recall >= 1.0 THEN 1 ELSE 0 END) AS nr_pass,
         COUNT(*) AS n_tests
  FROM prf GROUP BY config, seed
)
SELECT config,
       (SUM(np_pass) * 1.0) / SUM(n_tests) AS mean_pass_precision,
       MAX((np_pass * 1.0) / n_tests) AS max_pass_precision,
       (SUM(nr_pass) * 1.0) / SUM(n_tests) AS mean_pass_recall,
       MAX((nr_pass * 1.0) / n_tests) AS max_pass_recall,
       MAX(avg_f1) AS max_avg_f1
FROM per_seed GROUP BY config
"""


@query("q_mapping_pass_rate", _PASS_RATE_ORACLE)
def q_mapping_pass_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 on the mapping path (``AnaylsisUtils.py:121-146``
    ``get_max_pass_rate_mapping`` + ``tests_passed``): a 2-config × 2-seed
    matrix of simulated LLM responses, each run through the FULL engine
    (admission drops the CREATE of a target table, execution into twin
    namespaces, per-table distinct overlap), then the reference's
    two-level aggregation — per (config, seed) the mean F1 over tables and
    the fraction of tables with perfect precision/recall, then per config
    the mean/max over seeds via ``operators/metrics.pass_rate`` (the
    reference's ``frac_perfect_*`` is exactly pass_rate's metric ≥ 1
    test).  The oracle re-derives every overlap count from the base
    tables and states the two-level aggregation independently."""
    from pyspark.sql import functions as F

    from ..operators.metrics import pass_rate, prf1_columns

    from concurrent.futures import ThreadPoolExecutor

    def run_cell(cell):
        # concurrent cells (each engine run names its own views): the 4
        # engine runs submit their overlap jobs in parallel from pinned
        # threads — the run matrix is embarrassingly parallel and must not
        # serialize on per-job driver latency
        (config, seed), (th, natpred) = cell
        scenario = MappingScenario(
            source_tables={
                "customer": load_table(spark, sf_dir, "customer"),
                "nation": load_table(spark, sf_dir, "nation"),
            },
            target_tables={
                "t_seg": "c_name string, c_mktsegment string",
                "t_nat": "n_name string",
            },
            gold_sql=_PR_GOLD_SQL,
            meaningful_cols={
                "t_seg": ["c_name", "c_mktsegment"],
                "t_nat": ["n_name"],
            },
        )
        engine = MappingEngine(spark, scenario)
        result = engine.evaluate(
            _PR_RESPONSE.format(th=th, natpred=natpred), reference_skips=True
        )
        return [
            (config, seed, c.table, c.tp, float(c.fp), c.fn) for c in result.counts
        ]

    with ThreadPoolExecutor(max_workers=len(_PR_VARIANTS)) as pool:
        rows = [r for cell_rows in pool.map(run_cell, _PR_VARIANTS.items()) for r in cell_rows]
    prf = prf1_columns(
        local_df(spark, 
            rows,
            "config string, seed int, table_name string, tp bigint, fp double, fn bigint",
        ),
        all_zero_is_perfect=True,
    )
    pr_p = pass_rate(prf, F.col("precision"), ["config"], "seed").withColumnsRenamed(
        {"mean_pass_rate": "mean_pass_precision", "max_pass_rate": "max_pass_precision"}
    )
    pr_r = pass_rate(prf, F.col("recall"), ["config"], "seed").withColumnsRenamed(
        {"mean_pass_rate": "mean_pass_recall", "max_pass_rate": "max_pass_recall"}
    )
    f1 = (
        prf.groupBy("config", "seed")
        .agg(F.avg("f1").alias("avg_f1"))
        .groupBy("config")
        .agg(F.max("avg_f1").alias("max_avg_f1"))
    )
    return pr_p.join(pr_r, "config").join(f1, "config")
