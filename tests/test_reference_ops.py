"""Oracle parity for the second-round reference-operator surface."""

import pytest

from conftest import assert_oracle_match

NAMES = [
    "q_parse_matches_json",
    "q_mcq_scores",
    "q_mcq_validation",
    "q_yes_no_majority",
    "q_icl_packing",
    "q_example_selection",
    "q_gold_in_options",
    "q_case_swap",
    "q_softmax_scores",
    "q_prompt_assembly",
]


@pytest.mark.parametrize("name", NAMES)
def test_oracle_parity(spark, duck, name):
    assert_oracle_match(spark, duck, name)


ROUND3 = [
    "q_parse_create_view",
    "q_parse_tada_yes",
    "q_ensemble_disjoint",
    "q_prompt_with_samples",
    "q_topk_sweep",
]


@pytest.mark.parametrize("name", ROUND3)
def test_oracle_parity_round3(spark, duck, name):
    assert_oracle_match(spark, duck, name)


def test_view_parser_unit():
    from scalable_data_integration_with_llms_spark.operators.view_parse import parse_view_alignments

    errs, pairs = parse_view_alignments(
        "CREATE VIEW v (a, b) AS SELECT x, y FROM t;"
    )
    assert not errs and pairs == [("x", "a"), ("y", "b")]
    errs, pairs = parse_view_alignments("CREATE VIEW v AS SELECT x AS a, y FROM t;")
    assert pairs == [("x", "a"), ("y", "y")]
    errs, pairs = parse_view_alignments("nothing")
    assert pairs is None and errs == ["No CREATE VIEWs found"]


def test_ensemble_disjoint_degenerate_n_runs(spark):
    """ADVICE r7: with n_runs smaller than the distinct seeds present,
    disjoint must still equal union EXCEPT intersection(n_runs) — pairs in
    MORE than n_runs runs are outside that intersection, so included."""
    from scalable_data_integration_with_llms_spark.operators.ensembles import (
        ensemble_disjoint,
        ensemble_intersection,
        ensemble_union,
    )

    runs = spark.createDataFrame(
        # pair A in 3 runs, pair B in 2, pair C in 1
        [(s, "c1", "a", "x") for s in (1, 2, 3)]
        + [(s, "c1", "b", "y") for s in (1, 2)]
        + [(1, "c1", "c", "z")],
        "seed int, case_id string, src string, tgt string",
    )
    for n_runs in (2, 3):
        got = sorted(map(tuple, ensemble_disjoint(runs, n_runs).collect()))
        want = sorted(
            map(
                tuple,
                ensemble_union(runs)
                .exceptAll(ensemble_intersection(runs, n_runs))
                .collect(),
            )
        )
        assert got == want, (n_runs, got, want)


def test_join_referenced_tables_word_boundary():
    """ADVICE r7: substring-of-identifier must not select; case differences
    and quoted references must."""
    from scalable_data_integration_with_llms_spark.plans.sql_rewrite import referenced_tables

    sql = 'SELECT * FROM t_orders JOIN T_CUST USING (k) WHERE t_orders_archive.x > 0'
    tables = ["t_orders", "t_cust", "t_order", "t_orders_archive", "t_absent"]
    assert referenced_tables(sql, tables) == [
        "t_orders", "t_cust", "t_orders_archive",
    ]


def test_join_referenced_tables_matches_rewrite_semantics():
    """ADVICE r8: the persist selection must agree with the namespace
    rewrite (``qualify_sql``) — a name inside a string literal or already
    namespace-qualified is not a reference the rewrite would touch, so it
    must not drive a persist either."""
    from scalable_data_integration_with_llms_spark.plans.sql_ast import qualify_sql
    from scalable_data_integration_with_llms_spark.plans.sql_rewrite import referenced_tables

    tables = ["t_a", "t_b", "t_c"]
    sql = "SELECT 't_a ignored' AS lbl, x FROM t_b JOIN other.t_c USING (k)"
    got = referenced_tables(sql, tables)
    assert got == ["t_b"]
    # agreement property: a table is selected iff the rewrite changes the SQL
    for t in tables:
        rewritten = qualify_sql(sql, {t: f"ns_{t}"})
        assert (t in got) == (rewritten != sql), (t, rewritten)


def test_timeout_sentinel_fn_counts_duplicates(spark):
    """ADVICE r7: the U8 sentinel FN is the RAW gold row count
    (Evaluator.py:146-147 len(results.rows)), duplicates included."""
    from scalable_data_integration_with_llms_spark.operators.overlap import INF_FP, timed_table_overlap

    gold = spark.createDataFrame([("a",), ("a",), ("b",)], "v string")
    # pred's lineage is a runaway cross join so the overlap job genuinely
    # cannot finish before the cancel fires (an already-finished job cannot
    # be cancelled, so a trivial pred would race the timer)
    pred = (
        spark.range(5000)
        .crossJoin(spark.range(5000).selectExpr("id AS id2"))
        .crossJoin(spark.range(200).selectExpr("id AS id3"))
        .selectExpr("concat('v', id + id2 + id3) AS v")
    )
    c = timed_table_overlap(spark, gold, pred, ["v"], "t", timeout_s=0.5)
    assert c.fp == INF_FP and c.fn == 3  # not the 2 distinct values
