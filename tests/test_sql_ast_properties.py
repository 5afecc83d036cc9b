"""Property tests for the built-in SQL qualification backend: generated
admissible statements (the LLM-emitted shapes the mapping engine admits)
must rewrite identically to the regex reference, preserve literals and
comments byte-for-byte, be idempotent, and select for persisting exactly
the tables the rewrite renames."""

from hypothesis import given, settings
from hypothesis import strategies as st
from sql_regex_reference import _replace_table_refs

from scalable_data_integration_with_llms_spark.plans.sql_ast import (
    qualify_sql,
    tokenize,
    transpile_sqlite_to_spark,
)
from scalable_data_integration_with_llms_spark.plans.sql_rewrite import referenced_tables

MAPPING = {"src_t": "source_src_t", "other_t": "source_other_t", "tgt_t": "pred_tgt_t"}

_ident = st.sampled_from(["src_t", "other_t", "tgt_t", "plain_t", "a", "b", "k"])
_col = st.sampled_from(["a", "b", "k", "val"])
_lit = st.sampled_from(["'x'", "'src_t'", "42", "'it''s'"])


@st.composite
def admissible_select(draw):
    """SELECT over 1-2 tables with optional qualifiers, join, where —
    the statement family prepare_response admits.  No aliases or CTEs that
    collide with mapping keys (those shapes are covered by the dedicated
    shadowing tests; the regex backend is known-wrong there)."""
    t1 = draw(_ident)
    cols = draw(st.lists(_col, min_size=1, max_size=3))
    sel = ", ".join(
        (f"{t1}.{c}" if draw(st.booleans()) else c) for c in cols
    )
    sql = f"SELECT {sel} FROM {t1}"
    if draw(st.booleans()):
        t2 = draw(_ident.filter(lambda t: t != t1))
        sql += f" JOIN {t2} ON {t1}.k = {t2}.k"
    if draw(st.booleans()):
        sql += f" WHERE {draw(_col)} = {draw(_lit)}"
    if draw(st.booleans()):
        sql += f" GROUP BY {draw(_col)}"
    return sql


# comments and literals naming mapped tables, or holding ';', quotes and
# map_pk( — none of them is a reference
_decoration = st.sampled_from(
    ["", " /* src_t */", " -- tgt_t's\n", " /* other_t; it's */", " -- map_pk(a, b, c)\n"]
)


@st.composite
def decorated_select(draw):
    """``admissible_select`` with a comment after any word and optionally a
    string literal naming a table in the select list."""
    words = draw(admissible_select()).split(" ")
    if draw(st.booleans()):
        words[0] += f" '{draw(_ident)}' AS note,"
    return "".join(w + draw(_decoration) + " " for w in words).strip()


@given(admissible_select())
@settings(max_examples=200, deadline=None)
def test_builtin_matches_regex_on_admissible_shapes(sql):
    assert qualify_sql(sql, MAPPING) == _replace_table_refs(sql, MAPPING), sql


@given(admissible_select())
@settings(max_examples=100, deadline=None)
def test_qualify_idempotent(sql):
    once = qualify_sql(sql, MAPPING)
    assert qualify_sql(once, MAPPING) == once, sql


@given(admissible_select())
@settings(max_examples=100, deadline=None)
def test_literals_and_token_stream_preserved(sql):
    """Rewriting only ever changes ident tokens that are mapping keys:
    every other token (strings, numbers, operators, other idents) and all
    whitespace survive byte-for-byte, in order."""
    out = qualify_sql(sql, MAPPING)
    before, after = tokenize(sql), tokenize(out)
    assert len(before) == len(after)
    inverse = {v: k for k, v in MAPPING.items()}
    for tb, ta in zip(before, after):
        assert tb.ws == ta.ws
        if tb.text != ta.text:
            assert tb.kind == "ident" and inverse.get(ta.text) == tb.lower


@given(admissible_select())
@settings(max_examples=100, deadline=None)
def test_transpile_idempotent_and_literal_safe(sql):
    once = transpile_sqlite_to_spark(sql)
    assert transpile_sqlite_to_spark(once) == once
    # string literals untouched
    for tb, ta in zip(tokenize(sql), tokenize(once)):
        if tb.kind == "string":
            assert tb.text == ta.text


@given(decorated_select())
@settings(max_examples=200, deadline=None)
def test_referenced_tables_lockstep_with_qualify(sql):
    """The persist selection is exactly the set of tables whose mapped name
    the rewrite puts into the statement."""
    renamed = {t.text for t in tokenize(qualify_sql(sql, MAPPING))}
    assert referenced_tables(sql, list(MAPPING)) == [
        t for t, mapped in MAPPING.items() if mapped in renamed
    ], sql
