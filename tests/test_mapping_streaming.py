"""Oracle parity + unit coverage for the mapping engine and streaming path."""

import pytest

from conftest import assert_oracle_match

NAMES = ["q_mapping_overlap", "q_mapping_map_pk", "q_stream_hourly", "q_sessionization", "q_stream_enriched", "q_stream_dedup", "q_stream_stream_join", "q_sliding_windows", "q_session_window_native", "q_stream_corpus_ingest"]


@pytest.mark.parametrize("name", NAMES)
def test_oracle_parity(spark, duck, name):
    assert_oracle_match(spark, duck, name)


def test_sql_rewrite_rules():
    from scalable_data_integration_with_llms_spark.plans.sql_rewrite import prepare_response

    response = """
Sure! ```sql
CREATE SCHEMA foo;
CREATE TABLE tgt_t (a INT);
DROP TABLE tgt_t;
INSERT INTO tgt_t SELECT a FROM src_t;
SELECT * FROM both_t;
EXPLAIN SELECT 1;
```"""
    stmts = prepare_response(response, {"src_t", "both_t"}, {"tgt_t", "both_t"})
    reasons = [s.ignore_reason for s in stmts]
    assert "CREATE SCHEMA" in reasons[0]
    assert "CREATE tgt_t" in reasons[1]
    assert "DROP tgt_t" in reasons[2]
    assert stmts[3].admitted
    assert "pred_tgt_t" in stmts[3].sql and "source_src_t" in stmts[3].sql
    assert stmts[4].admitted
    assert "both_t" in stmts[4].sql and "pred_both_t" not in stmts[4].sql  # ambiguous -> untouched
    assert not stmts[5].admitted  # stray statement


def test_sql_rewrite_qualified_columns_follow_rename():
    from scalable_data_integration_with_llms_spark.plans.sql_ast import qualify_sql

    out = qualify_sql(
        "SELECT src_t.a, o.b FROM src_t JOIN other o ON src_t.k = o.k "
        "WHERE src_t.name = 'src_t literal'",
        {"src_t": "source_src_t"},
    )
    # table ref and its column qualifiers renamed; aliases and string
    # literals untouched; already-qualified ns.t protected
    assert "FROM source_src_t" in out
    assert "source_src_t.a" in out and "source_src_t.k" in out
    assert "'src_t literal'" in out and "o.b" in out
    assert (
        qualify_sql("SELECT * FROM ns.src_t", {"src_t": "source_src_t"})
        == "SELECT * FROM ns.src_t"
    )


_PARITY_MAPPING = {"src_t": "source_src_t", "tgt_t": "pred_tgt_t"}
_PARITY_CASES = [
    "INSERT INTO tgt_t SELECT a, b FROM src_t",
    "SELECT src_t.a FROM src_t WHERE src_t.b > 3",
    "SELECT * FROM src_t JOIN other ON src_t.k = other.k",
    "SELECT 'src_t' AS lit, a FROM src_t",
    "WITH c AS (SELECT * FROM src_t) SELECT * FROM c",
    "CREATE VIEW v AS SELECT a FROM src_t WHERE a IN (SELECT a FROM tgt_t)",
    "DROP TABLE src_t",
    "SELECT count(*) FROM src_t GROUP BY a HAVING count(*) > 1 ORDER BY a LIMIT 5",
]


def test_sql_rewrite_builtin_ast_parity():
    """The built-in scope-aware qualifier must agree with the regex reference
    on every admissible statement shape — this parity gate always executes
    (no third-party parser needed)."""
    from sql_regex_reference import _replace_table_refs

    from scalable_data_integration_with_llms_spark.plans.sql_ast import qualify_sql

    for sql in _PARITY_CASES:
        assert qualify_sql(sql, _PARITY_MAPPING) == _replace_table_refs(
            sql, _PARITY_MAPPING
        ), sql


def test_sql_rewrite_builtin_scope_shadowing():
    """Where the built-in qualifier legitimately differs from the regex
    reference: names DEFINED in the statement (aliases, CTEs) shadow the
    mapping — the regex rewriter cannot know that."""
    from scalable_data_integration_with_llms_spark.plans.sql_ast import qualify_sql

    # subquery alias colliding with a mapped table name: alias wins
    out = qualify_sql(
        "SELECT src_t.a FROM (SELECT 1 AS a) AS src_t",
        {"src_t": "source_src_t"},
    )
    assert out == "SELECT src_t.a FROM (SELECT 1 AS a) AS src_t"
    # CTE name colliding with a mapped table: the CTE shadows; tables inside
    # the CTE body still rewrite
    out = qualify_sql(
        "WITH src_t AS (SELECT * FROM tgt_t) SELECT src_t.x FROM src_t",
        {"src_t": "source_src_t", "tgt_t": "pred_tgt_t"},
    )
    assert out == "WITH src_t AS (SELECT * FROM pred_tgt_t) SELECT src_t.x FROM src_t"
    # bare FROM alias shadows too; the table itself still rewrites
    out = qualify_sql(
        "SELECT t.a FROM src_t t WHERE t.b = 1", {"src_t": "source_src_t", "t": "BOOM"}
    )
    assert out == "SELECT t.a FROM source_src_t t WHERE t.b = 1"


def test_sql_rewrite_builtin_structures():
    """Structural coverage beyond the parity shapes: comments, quoted
    literals with embedded names, multi-CTE chains, nested subqueries."""
    from scalable_data_integration_with_llms_spark.plans.sql_ast import qualify_sql

    m = {"src_t": "source_src_t", "tgt_t": "pred_tgt_t"}
    out = qualify_sql(
        "-- src_t in a comment\nSELECT a FROM src_t /* tgt_t too */ WHERE b = 'src_t'",
        m,
    )
    assert "FROM source_src_t" in out
    assert "-- src_t in a comment" in out and "/* tgt_t too */" in out
    assert "'src_t'" in out
    out = qualify_sql(
        "WITH a AS (SELECT * FROM src_t), b AS (SELECT * FROM a JOIN tgt_t USING (k)) "
        "SELECT * FROM b",
        m,
    )
    assert "FROM source_src_t" in out and "JOIN pred_tgt_t" in out
    assert out.endswith("FROM b")
    out = qualify_sql(
        "SELECT * FROM (SELECT x FROM (SELECT x FROM src_t) inner1) outer1, tgt_t",
        m,
    )
    assert "FROM source_src_t" in out and "pred_tgt_t" in out


def test_sql_rewrite_regex_comment_protection():
    """ADVICE r9: ``--`` / ``/* */`` comments and double-quoted identifiers
    are protected, so a table name appearing only there neither rewrites
    nor counts as referenced — and qualification and ``referenced_tables``
    stay in lockstep on every case."""
    from scalable_data_integration_with_llms_spark.plans.sql_ast import qualify_sql
    from scalable_data_integration_with_llms_spark.plans.sql_rewrite import referenced_tables

    m = {"src_t": "source_src_t", "tgt_t": "pred_tgt_t"}
    names = list(m)
    # name only in a line comment: untouched, not referenced
    sql = "-- src_t setup\nSELECT 1"
    assert qualify_sql(sql, m) == sql
    assert referenced_tables(sql, names) == []
    # name only in a block comment (multi-line): untouched, not referenced
    sql = "SELECT a FROM real_t /* join tgt_t\n later */"
    assert qualify_sql(sql, m) == sql
    assert referenced_tables(sql, names) == []
    # name only in a double-quoted identifier: protected (rewriting inside
    # quotes would corrupt the identifier; fail-loud at execution beats
    # silently reading the wrong table)
    sql = 'SELECT "src_t" FROM real_t'
    assert qualify_sql(sql, m) == sql
    assert referenced_tables(sql, names) == []
    # real reference next to a comment mention: only the real one acts
    sql = "SELECT a FROM src_t -- not tgt_t\n"
    assert qualify_sql(sql, m) == "SELECT a FROM source_src_t -- not tgt_t\n"
    assert referenced_tables(sql, names) == ["src_t"]
    # '--' inside a string literal is NOT a comment opener
    sql = "SELECT '--x' FROM src_t"
    assert qualify_sql(sql, m) == "SELECT '--x' FROM source_src_t"
    assert referenced_tables(sql, names) == ["src_t"]
    # lockstep property: whatever referenced_tables reports is exactly what
    # the rewrite touches
    for sql in [
        "-- tgt_t\nINSERT INTO tgt_t SELECT * FROM src_t /* src_t */",
        "SELECT 'src_t', \"tgt_t\" FROM src_t",
    ]:
        refs = set(referenced_tables(sql, names))
        rewritten = qualify_sql(sql, m)
        for t in names:
            assert (m[t] in rewritten) == (t in refs), (sql, t)


def _sqlglot_rename(sql: str, mapping: dict[str, str]) -> str:
    """The reference's own qualification mechanism (Evaluator.py:89-105):
    rename unqualified table nodes and the column qualifiers that reference
    them on the sqlglot parse tree, then re-render."""
    import sqlglot
    from sqlglot import exp

    tree = sqlglot.parse_one(sql)
    for node in tree.find_all(exp.Table):
        if not node.db and node.name and node.name.lower() in mapping:
            node.set("this", exp.to_identifier(mapping[node.name.lower()]))
    for node in tree.find_all(exp.Column):
        if node.table and node.table.lower() in mapping:
            node.set("table", exp.to_identifier(mapping[node.table.lower()]))
    return tree.sql()


def test_sql_rewrite_ast_parity():
    """When the public sqlglot package is present, the built-in qualifier
    must agree with a sqlglot parse-tree rename on the admissible statement
    shapes."""
    sqlglot = pytest.importorskip("sqlglot")

    from scalable_data_integration_with_llms_spark.plans.sql_ast import qualify_sql

    for sql in _PARITY_CASES:
        builtin_out = sqlglot.parse_one(qualify_sql(sql, _PARITY_MAPPING)).sql()
        assert builtin_out == _sqlglot_rename(sql, _PARITY_MAPPING), sql


_COMMENTED_RESPONSE = """```sql
-- copy each customer's name
INSERT INTO tgt_t SELECT c_name FROM src_t;
INSERT INTO tgt_t SELECT c_name FROM src_t WHERE c_name IS NULL;
INSERT INTO tgt_t SELECT 'x';
```"""


def test_comment_apostrophe_does_not_swallow_script():
    """An apostrophe inside a ``--`` comment opens no string: the three
    INSERTs after it are three admitted statements."""
    from scalable_data_integration_with_llms_spark.plans.sql_rewrite import prepare_response

    stmts = prepare_response(_COMMENTED_RESPONSE, {"src_t"}, {"tgt_t"})
    assert [(s.kind, s.target_table, s.admitted) for s in stmts] == [("INSERT", "tgt_t", True)] * 3
    assert stmts[0].sql.startswith("-- copy each customer's name\nINSERT INTO pred_tgt_t")


def test_split_statements_on_tokens():
    from scalable_data_integration_with_llms_spark.plans.sql_rewrite import split_statements

    # an apostrophe inside a block comment opens no string either
    assert split_statements("INSERT INTO t SELECT 1 /* it's */; INSERT INTO t SELECT 2") == [
        "INSERT INTO t SELECT 1 /* it's */",
        "INSERT INTO t SELECT 2",
    ]
    # ';' inside a literal or comment does not split
    assert split_statements("SELECT ';' -- a;b\n; SELECT 2") == ["SELECT ';' -- a;b", "SELECT 2"]
    # a segment of only comments and whitespace is not a statement
    assert split_statements("SELECT 1;\n-- done\n;  /* trailing */ ;\n") == ["SELECT 1"]
    assert split_statements("-- nothing here") == []


def test_trailing_comment_is_not_a_token():
    """Trailing whitespace or a trailing comment is the ws of one empty
    token — never re-split into a fake identifier that could, e.g., read
    as a table alias and shadow the mapping."""
    from scalable_data_integration_with_llms_spark.plans.sql_ast import qualify_sql, tokenize

    assert [t.text for t in tokenize("SELECT 1 -- x")] == ["SELECT", "1", ""]
    assert [t.text for t in tokenize("SELECT 1 /* a b */\n")] == ["SELECT", "1", ""]
    assert qualify_sql("SELECT t.a FROM t -- it", {"t": "ns_t"}) == "SELECT ns_t.a FROM ns_t -- it"


def test_classify_skips_leading_comment():
    from scalable_data_integration_with_llms_spark.plans.sql_rewrite import classify

    s = classify("-- load the dimension\nINSERT INTO Ns.T SELECT 1")
    assert (s.kind, s.target_table) == ("INSERT", "ns.t")
    s = classify("/* cte */ WITH a AS (SELECT 1) SELECT * FROM a")
    assert s.kind == "SELECT"
    s = classify("-- reset\nDROP TABLE IF EXISTS tgt_t")
    assert (s.kind, s.target_table) == ("DROP", "tgt_t")
    s = classify("CREATE OR REPLACE TEMP VIEW IF NOT EXISTS v AS SELECT 1")
    assert (s.kind, s.target_table) == ("CREATE", "v")
    s = classify("CREATE SCHEMA foo")
    assert s.target_table == "foo" and "CREATE SCHEMA" in s.ignore_reason
    assert classify("EXPLAIN SELECT 1").kind == "OTHER"


def test_insert_with_comment_before_select_runs(spark):
    """A comment between ``INSERT INTO t`` and its SELECT is only
    whitespace to the token walk that strips the INSERT head."""
    from scalable_data_integration_with_llms_spark.plans.mapping_engine import MappingEngine, MappingScenario

    scenario = MappingScenario(
        source_tables={"t_src": spark.range(5).selectExpr("CAST(id AS STRING) AS v")},
        target_tables={"t_out": "v string"},
        gold_sql="INSERT INTO t_out SELECT v FROM t_src;",
        meaningful_cols={"t_out": ["v"]},
    )
    result = MappingEngine(spark, scenario).evaluate(
        "INSERT INTO t_out -- all rows\nSELECT v FROM t_src WHERE v <> '0'"
    )
    assert all(s.admitted for s in result.statement_log)
    (c,) = result.counts
    assert (c.tp, c.fp, c.fn) == (4, 0.0, 1)


def test_timeout_classification(spark):
    from scalable_data_integration_with_llms_spark.plans.timeout import ERROR, OK, run_with_timeout

    ok = run_with_timeout(spark, lambda: spark.sql("SELECT 1").collect(), 30.0)
    assert ok.status == OK
    err = run_with_timeout(spark, lambda: spark.sql("SELECT * FROM missing_xyz").collect(), 30.0)
    assert err.status == ERROR


def test_timeout_late_complete_is_timeout(spark):
    """ADVICE r8: work that finishes AFTER the deadline but that no job
    cancel can reach (driver-only, or inside the 250 ms re-issue gap) is
    still a deadline violation — the reference's interrupt timer is a hard
    wall (DatabaseManager.py:202-238), so status must be TIMEOUT, not OK."""
    import time

    from scalable_data_integration_with_llms_spark.plans.timeout import TIMEOUT, run_with_timeout

    res = run_with_timeout(spark, lambda: time.sleep(0.6) or 42, 0.2)
    assert res.status == TIMEOUT
    assert res.value is None


def test_timeout_elapsed_based_classification(spark):
    """ADVICE r9: classification uses measured elapsed time, one clock —
    not the canceller thread's event alone.  An in-deadline finish is OK
    even though the canceller was armed; an exception AFTER the deadline is
    TIMEOUT even when no Spark job existed for the cancel to land on."""
    import time

    from scalable_data_integration_with_llms_spark.plans.timeout import (
        ERROR,
        OK,
        TIMEOUT,
        run_with_timeout,
    )

    # finishes well inside a generous deadline: OK, value preserved
    res = run_with_timeout(spark, lambda: 7, 30.0)
    assert res.status == OK and res.value == 7
    # driver-only exception raised after the deadline: elapsed >= timeout
    # classifies TIMEOUT regardless of the cancel race
    def late_raise():
        time.sleep(0.5)
        raise RuntimeError("late failure")

    res = run_with_timeout(spark, late_raise, 0.2)
    assert res.status == TIMEOUT
    # driver-only exception raised inside the deadline stays ERROR
    def fast_raise():
        raise RuntimeError("fast failure")

    res = run_with_timeout(spark, fast_raise, 30.0)
    assert res.status == ERROR


def test_timeout_restores_caller_local_properties(spark):
    """A timed statement runs under its own job group, then hands back the
    caller's job group, description and interrupt flag unchanged — set or
    unset."""
    from scalable_data_integration_with_llms_spark.plans.timeout import OK, run_with_timeout

    sc = spark.sparkContext
    props = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    try:
        sc.setJobDescription("caller description")
        before = {k: sc.getLocalProperty(k) for k in props}
        assert run_with_timeout(spark, lambda: spark.range(3).count(), 30.0).status == OK
        assert {k: sc.getLocalProperty(k) for k in props} == before
        assert before["spark.job.description"] == "caller description"

        sc.setJobGroup("caller-group", "caller group", interruptOnCancel=False)
        before = {k: sc.getLocalProperty(k) for k in props}
        run_with_timeout(spark, lambda: 1 / 0, 30.0)
        assert {k: sc.getLocalProperty(k) for k in props} == before
    finally:
        for k in props:
            sc.setLocalProperty(k, None)
    run_with_timeout(spark, lambda: 1, 30.0)
    assert all(sc.getLocalProperty(k) is None for k in props)


def test_timeout_sentinel(spark):
    """Timed-out predicted query scores FN=|gold|, FP=∞ (Evaluator.py:141-151)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from scalable_data_integration_with_llms_spark.operators.overlap import INF_FP, timed_table_overlap

    gold = spark.range(5).toDF("k")

    @F.udf(LongType())
    def slow_identity(x):
        import time

        time.sleep(5)
        return x

    # slowness lives inside Spark tasks, where job-group cancel can reach it
    pred = spark.range(5).select(slow_identity("id").alias("k"))
    res = timed_table_overlap(spark, gold, pred, ["k"], "t", timeout_s=1.0)
    assert res.fp == INF_FP
    assert res.fn == 5
    assert res.tp == 0


def test_stream_matches_batch(spark):
    """availableNow-drained streaming rollup == batch rollup (same rows)."""
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    stream_rows = sorted(
        map(str, QUERIES["q_stream_hourly"](spark, "/root/testdata/sf0.001").collect())
    )
    batch = QUERIES["q_events_hourly"](spark, "/root/testdata/sf0.001")
    assert len(stream_rows) == batch.count()


def test_subsumed_rules_parity(spark, duck):
    assert_oracle_match(spark, duck, "q_subsumed_rules")


def test_rewrite_map_pk_edge_cases():
    from scalable_data_integration_with_llms_spark.plans.sql_rewrite import rewrite_map_pk

    # nested parens and a comma inside a string literal in the val arg
    sql = "SELECT map_pk(customer, c_name, concat(c_name, ', suffix', substr(c_name, 1, 2)))"
    new, refs = rewrite_map_pk(sql)
    assert refs == {("customer", "c_name")}
    assert "__mappk_customer_c_name" in new
    assert "', suffix'" in new  # literal comma survived
    # two calls in one statement
    sql2 = "SELECT map_pk('a','x',x), map_pk('b','y',y) FROM t"
    new2, refs2 = rewrite_map_pk(sql2)
    assert refs2 == {("a", "x"), ("b", "y")}
    assert new2.count("__mappk_") == 2
    # no call: untouched
    sql3 = "SELECT 1"
    assert rewrite_map_pk(sql3) == (sql3, set())
    # wrong arity: left untouched
    sql4 = "SELECT map_pk(a, b) FROM t"
    assert rewrite_map_pk(sql4)[0] == sql4


def test_rewrite_map_pk_ignores_literals_and_comments():
    from scalable_data_integration_with_llms_spark.plans.sql_rewrite import rewrite_map_pk

    new, refs = rewrite_map_pk(
        "SELECT 'map_pk(a, b, c)' AS note, map_pk('customer','c_name',c_name) FROM customer"
    )
    assert refs == {("customer", "c_name")}
    assert new == (
        "SELECT 'map_pk(a, b, c)' AS note, "
        "(SELECT pk_id FROM __mappk_customer_c_name WHERE pk_val = (c_name)) FROM customer"
    )
    sql = "SELECT c_name -- was map_pk(a, b, c)\nFROM customer /* map_pk(d, e, f) */"
    assert rewrite_map_pk(sql) == (sql, set())


def test_transpile_sqlite_to_spark():
    """Dialect render: double-quoted identifiers -> backticks, CAST types
    TEXT/REAL/BLOB -> STRING/DOUBLE/BINARY; columns NAMED text untouched;
    string literals untouched; semantics-changing sqlite-isms left alone."""
    from scalable_data_integration_with_llms_spark.plans.sql_ast import transpile_sqlite_to_spark as tr

    assert tr('SELECT "first name" FROM src_t') == "SELECT `first name` FROM src_t"
    assert tr("SELECT CAST(a AS TEXT), CAST(b AS real) FROM t") == (
        "SELECT CAST(a AS STRING), CAST(b AS DOUBLE) FROM t"
    )
    # a column named text is not a type reference
    assert tr("SELECT text FROM documents WHERE text = 'TEXT'") == (
        "SELECT text FROM documents WHERE text = 'TEXT'"
    )
    # alias 'AS text' outside a CAST group untouched
    assert tr("SELECT a AS text FROM t") == "SELECT a AS text FROM t"
    # nested: only the CAST-group AS maps
    assert tr("SELECT CAST(x + (SELECT y AS text FROM u) AS BLOB) FROM t") == (
        "SELECT CAST(x + (SELECT y AS text FROM u) AS BINARY) FROM t"
    )
    # deliberate non-rewrites (must fail loudly at execution instead)
    assert tr("INSERT OR REPLACE INTO t VALUES (1)") == "INSERT OR REPLACE INTO t VALUES (1)"


def test_prepare_response_applies_dialect_render():
    from scalable_data_integration_with_llms_spark.plans.sql_rewrite import prepare_response

    stmts = prepare_response(
        '```sql\nINSERT INTO tgt_t SELECT CAST("src col" AS TEXT) FROM src_t;\n```',
        {"src_t"},
        {"tgt_t"},
    )
    assert stmts[0].admitted
    assert "CAST(`src col` AS STRING)" in stmts[0].sql
    assert "FROM source_src_t" in stmts[0].sql


def test_mapping_e2e_benchmark(spark, duck):
    """The committed reference-shaped mapping benchmark: oracle parity plus
    the structural pins — m5 subsumed away, t_link (no meaningful cols) and
    t_empty (all-zero) skipped, m4's runaway join hits the timeout
    sentinel, m2 carries the join-overlap row."""
    from conftest import SF_DIR, assert_oracle_match

    from scalable_data_integration_with_llms_spark.queries import QUERIES

    assert_oracle_match(spark, duck, "q_mapping_e2e")
    rows = QUERIES["q_mapping_e2e"](spark, SF_DIR).collect()
    keys = {(r.rule_id, r.table_name) for r in rows}
    assert keys == {
        ("m1", "t_cust_orders"),
        ("m2", "t_order_lines"),
        ("m2", "t_suppliers"),
        ("m2", "__join__"),
        ("m3", "t_nation_dim"),
        ("m4", "t_priority_orders"),
    }
    by = {(r.rule_id, r.table_name): r for r in rows}
    m4 = by[("m4", "t_priority_orders")]
    assert m4.timed_out and m4.fp is None and m4.tp == 0 and m4.fn > 0
    assert m4.precision == 0.0 and m4.recall == 0.0 and m4.f1 == 0.0
    assert by[("m1", "t_cust_orders")].fn > 0  # stricter filter -> FNs
    assert by[("m2", "t_order_lines")].fp > 0  # looser filter -> FPs
    assert by[("m3", "t_nation_dim")].fn > 0   # map_pk subset -> FNs
    assert not any(r.timed_out for r in rows if r.rule_id != "m4")


def test_table_overlap_null_safe(spark):
    """The single-pass overlap must keep EXCEPT/INTERSECT's null-equality:
    a NULL cell matches a NULL cell, and duplicates collapse (set
    semantics)."""
    from scalable_data_integration_with_llms_spark.operators.overlap import table_overlap

    g = spark.createDataFrame(
        [(1, None), (1, None), (2, "x"), (3, "y")], "a int, b string"
    )
    p = spark.createDataFrame(
        [(1, None), (2, "x"), (4, None)], "a int, b string"
    )
    c = table_overlap(g, p, ["a", "b"], "t")
    assert (c.tp, c.fp, c.fn) == (2, 1.0, 1)


def test_concurrent_engines_name_their_own_views(spark):
    """Private view names under the WORST case: two engines running
    CONCURRENTLY with the same source/target table names bound to
    DIFFERENT data — each run's overlap must see only its own views."""
    from concurrent.futures import ThreadPoolExecutor

    from scalable_data_integration_with_llms_spark.plans.mapping_engine import MappingEngine, MappingScenario

    def run(tag: str, n_rows: int, pred_rows: int):
        src = spark.range(n_rows).selectExpr("CAST(id AS STRING) AS v")
        scenario = MappingScenario(
            source_tables={"t_src": src},
            target_tables={"t_out": "v string"},
            gold_sql="INSERT INTO t_out SELECT v FROM t_src;",
            meaningful_cols={"t_out": ["v"]},
        )
        engine = MappingEngine(spark, scenario)
        result = engine.evaluate(
            f"```sql\nINSERT INTO t_out SELECT v FROM t_src WHERE CAST(v AS INT) < {pred_rows};\n```"
        )
        (c,) = result.counts
        return (c.tp, c.fp, c.fn)

    with ThreadPoolExecutor(max_workers=2) as pool:
        fa = pool.submit(run, "a", 100, 70)   # tp=70, fn=30
        fb = pool.submit(run, "b", 40, 40)    # tp=40, perfect
        assert fa.result() == (70, 0.0, 30)
        assert fb.result() == (40, 0.0, 0)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_cell = st.one_of(st.none(), st.integers(min_value=0, max_value=3).map(str))
_row = st.tuples(_cell, _cell)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(gold=st.lists(_row, max_size=12), pred=st.lists(_row, max_size=12))
def test_table_overlap_matches_native_set_ops(spark, gold, pred):
    """Differential pin: the single-pass full-outer overlap equals Spark's
    own DISTINCT INTERSECT/EXCEPT on arbitrary small frames with nulls and
    duplicates — the algebra the J5 rewrite claims, randomized."""
    from scalable_data_integration_with_llms_spark.operators.overlap import table_overlap

    schema = "a string, b string"
    g = spark.createDataFrame(gold, schema) if gold else spark.createDataFrame([], schema)
    p = spark.createDataFrame(pred, schema) if pred else spark.createDataFrame([], schema)
    c = table_overlap(g, p, ["a", "b"], "t")
    gd, pd_ = g.distinct(), p.distinct()
    tp = pd_.intersect(gd).count()
    fp = pd_.exceptAll(pd_.intersect(gd)).count()
    fn = gd.exceptAll(gd.intersect(pd_)).count()
    assert (c.tp, c.fp, c.fn) == (tp, float(fp), fn)
