"""SQL admission control + namespace rewriting for the Schema-Mapping
execution engine (SURVEY §2.9 U7, §2.2 P6, §4 "custom pre-pass").

The reference parses LLM-emitted SQL with sqlglot, drops inadmissible
statements, qualifies bare table names into SQLite ATTACH namespaces, and
executes on SQLite (``Schema Mapping/AnalysisUtils/Evaluator.py:59-119``).
The engine reproduces the same decision rules but executes on Spark SQL
against temp views named ``{namespace}_{table}``:

* admission (``_mark_queries_to_ignore``, Evaluator.py:59-87): keep only
  DDL/DML; drop CREATE SCHEMA, and CREATE/DROP of *target* tables (the
  harness owns the target schema);
* qualification (``_append_schema_namespaces``, Evaluator.py:89-105):
  a bare table name in the source set gets the source namespace, in the
  target set the predicted namespace, in both — left untouched;
* INSERT INTO a Spark temp view is illegal, so ``INSERT INTO t SELECT ...``
  becomes an accumulated per-table view: ``CREATE OR REPLACE TEMP VIEW
  ns_t AS (prior UNION ALL) SELECT ...`` handled by the executor
  (mapping_engine.py).

One lexer, one qualification backend: every step below is a walk over
``plans/sql_ast.tokenize``'s token list, so splitting, classification,
qualification, the persist selection (``referenced_tables``) and the
``map_pk`` rewrite agree by construction on what is a literal, a comment
or an identifier — ``;`` or ``map_pk(`` inside a string or comment is
inert everywhere.  Qualification is ``sql_ast.qualify_sql``: scope-aware,
with statement-local names (aliases, CTEs) shadowing the mapping.  That is
the one place it departs from the reference's sqlglot
``find_all(exp.Table)``, which does not scope-resolve and would rename a
CTE reference that collides with a source-table name.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from .sql_ast import Tok, analyze, qualify_sql, tokenize, transpile_sqlite_to_spark


@dataclass
class Statement:
    sql: str
    kind: str  # INSERT / SELECT / CREATE / DROP / UPDATE / DELETE / OTHER
    ignore_reason: str | None = None
    target_table: str | None = None  # for INSERT/CREATE/DROP: the object table

    @property
    def admitted(self) -> bool:
        return self.ignore_reason is None


_FENCE_RE = re.compile(r"```(?:sql)?\s*(.*?)```", re.DOTALL | re.IGNORECASE)


def extract_sql_blocks(response: str) -> str:
    """Code-fence extraction from an LLM response
    (``AnalysisUtils/Experiment.py:73,101-130``): concatenate every fenced
    block; if none, treat the whole response as SQL."""
    blocks = _FENCE_RE.findall(response)
    return "\n".join(blocks) if blocks else response


def split_statements(sql: str) -> list[str]:
    """Split on ``;`` tokens; a segment holding only whitespace and comments
    is not a statement."""
    out, buf, has_token = [], [], False
    for t in tokenize(sql) + [Tok("op", ";", "")]:
        if t.kind == "op" and t.text == ";":
            if has_token:
                out.append(("".join(buf) + t.ws).strip())
            buf, has_token = [], False
        else:
            buf.append(t.ws + t.text)
            has_token = has_token or bool(t.text)
    return out


def _word(toks: list[Tok], i: int) -> str:
    """The lowercased bare identifier or keyword at ``toks[i]``, else ''."""
    t = toks[i] if i < len(toks) else None
    return t.lower if t and t.kind == "ident" and t.text[0] not in '"`[' else ""


def _name(toks: list[Tok], i: int) -> tuple[str | None, int]:
    """The bare, possibly dotted object name at ``toks[i]`` (``ns.t``, no
    space around the dots), lowercased, and the index after it."""
    name = _word(toks, i)
    if not name:
        return None, i
    i += 1
    while (
        i < len(toks) and toks[i].text == "." and not toks[i].ws
        and _word(toks, i + 1) and not toks[i + 1].ws
    ):
        name += "." + toks[i + 1].lower
        i += 2
    return name, i


def _skip_if_exists(toks: list[Tok], i: int) -> int:
    """Skip an ``IF [NOT] EXISTS`` clause at ``toks[i]``."""
    if _word(toks, i) != "if":
        return i
    j = i + 2 if _word(toks, i + 1) == "not" else i + 1
    return j + 1 if _word(toks, j) == "exists" else i


_KINDS = frozenset({"insert", "select", "create", "drop", "update", "delete", "with"})


def classify(stmt: str) -> Statement:
    """Kind from the first token (``WITH`` reads as SELECT); the object
    table of INSERT INTO / CREATE [OR REPLACE] [TEMP] TABLE|VIEW|SCHEMA /
    DROP TABLE|VIEW from the identifiers that follow it."""
    toks = tokenize(stmt)
    head = _word(toks, 0)
    kind = ("SELECT" if head == "with" else head.upper()) if head in _KINDS else "OTHER"
    s = Statement(sql=stmt, kind=kind)
    if (_word(toks, 0), _word(toks, 1)) == ("insert", "into"):
        s.target_table = _name(toks, 2)[0]
    elif kind == "CREATE":
        i = 3 if (_word(toks, 1), _word(toks, 2)) == ("or", "replace") else 1
        if _word(toks, i) in ("temp", "temporary"):
            i += 1
        obj = _word(toks, i)
        if obj in ("table", "view", "schema"):
            s.target_table = _name(toks, _skip_if_exists(toks, i + 1))[0]
            if obj == "schema" and s.target_table:
                s.ignore_reason = "Trying to CREATE SCHEMA. Statement ignored"
    elif kind == "DROP" and _word(toks, 1) in ("table", "view"):
        s.target_table = _name(toks, _skip_if_exists(toks, 2))[0]
    return s


def admit(statements: list[Statement], target_tables: set[str]) -> list[Statement]:
    """P6 admission: mirror of ``_mark_queries_to_ignore``."""
    for s in statements:
        if s.ignore_reason:
            continue
        if s.kind == "OTHER":
            s.ignore_reason = "Stray statement ignored"
        elif s.kind in ("CREATE", "DROP") and s.target_table in target_tables:
            s.ignore_reason = f"Trying to {s.kind} {s.target_table}. Statement ignored"
    return statements


def referenced_tables(sql: str, names) -> list[str]:
    """Which of ``names`` the SQL references at a position ``qualify_sql``
    would rename (``Analysis.rewritable``), so a caller choosing what to
    persist can never disagree with what the namespace rewrite touches
    (ADVICE r8).  Returns names in their input order."""
    a = analyze(sql)
    found = {a.tokens[i].lower for i in a.rewritable}
    return [t for t in names if t.lower() in found]


def insert_query(sql: str) -> str:
    """``INSERT INTO t [(cols)] SELECT|WITH|VALUES ...`` -> the query part."""
    toks = tokenize(sql)
    name, i = None, 0
    if (_word(toks, 0), _word(toks, 1)) == ("insert", "into"):
        name, i = _name(toks, 2)
    if name and i < len(toks) and toks[i].text == "(":
        i = next((j + 1 for j in range(i, len(toks)) if toks[j].text == ")"), len(toks))
    if not name or _word(toks, i) not in ("select", "with", "values"):
        raise ValueError(f"unsupported INSERT shape: {sql[:80]}")
    return toks[i].text + "".join(t.ws + t.text for t in toks[i + 1:])


def qualify_namespaces(
    stmt: Statement,
    source_tables: set[str],
    target_tables: set[str],
    source_ns: str = "source",
    target_ns: str = "pred",
) -> Statement:
    """U7 qualification: source-only names -> ``{source_ns}_{t}``,
    target-only -> ``{target_ns}_{t}``, ambiguous -> untouched
    (``_append_schema_namespaces``, Evaluator.py:89-105)."""
    mapping = {}
    for t in source_tables - target_tables:
        mapping[t] = f"{source_ns}_{t}"
    for t in target_tables - source_tables:
        mapping[t] = f"{target_ns}_{t}"
    if not mapping:
        return stmt
    return Statement(
        sql=qualify_sql(stmt.sql, mapping),
        kind=stmt.kind,
        ignore_reason=stmt.ignore_reason,
        target_table=stmt.target_table,
    )


def prepare_response(
    response: str, source_tables: set[str], target_tables: set[str],
    source_ns: str = "source", target_ns: str = "pred",
    dialect_normalize: bool = True,
) -> list[Statement]:
    """Full pre-pass: fence-extract → split → classify → admit → qualify →
    dialect render (the reference renders per dialect at execution time,
    ``Evaluator.py:257,271``; here SQLite-isms normalize to Spark SQL —
    semantics-preserving transforms only, see sql_ast.transpile_sqlite_to_spark)."""
    stmts = [classify(s) for s in split_statements(extract_sql_blocks(response))]
    admit(stmts, target_tables)
    out = []
    for s in stmts:
        if s.admitted:
            s = qualify_namespaces(s, source_tables, target_tables, source_ns, target_ns)
            if dialect_normalize:
                s = Statement(
                    sql=transpile_sqlite_to_spark(s.sql),
                    kind=s.kind,
                    ignore_reason=s.ignore_reason,
                    target_table=s.target_table,
                )
        out.append(s)
    return out


# -- U3: map_pk(tbl, attr, val) rewrite ---------------------------------------
# The reference registers a stateful SQLite UDF (DatabaseManager.py:84-95)
# assigning each distinct value a dense first-seen index.  The engine's
# declared contract is rank-by-value (operators/surrogate.py); gold SQL
# calling map_pk is rewritten into a scalar subquery against a precomputed
# ``__mappk_{tbl}_{attr}`` dimension view (SURVEY §4 "dialect translation").


def _call_args(toks: list[Tok], i: int) -> tuple[list[str], int] | None:
    """Split the argument list opened at ``toks[i] == '('`` at its depth-1
    commas; returns (args, index after the closing paren) or None if
    unbalanced."""
    args, buf, depth = [], [], 0
    for j in range(i, len(toks)):
        t = toks[j]
        if t.kind == "op" and t.text == "(":
            depth += 1
            if depth == 1:
                continue
        elif t.kind == "op" and t.text == ")":
            depth -= 1
            if depth == 0:
                return args + ["".join(buf).strip()], j + 1
        elif t.kind == "op" and t.text == "," and depth == 1:
            args.append("".join(buf).strip())
            buf = []
            continue
        buf.append(t.ws + t.text)
    return None


def rewrite_map_pk(sql: str) -> tuple[str, set[tuple[str, str]]]:
    """Replace every ``map_pk(tbl, attr, val)`` call with a scalar subquery
    ``(SELECT pk_id FROM __mappk_tbl_attr WHERE pk_val = (val))``; returns
    the rewritten SQL plus the set of (tbl, attr) dimensions the executor
    must register.  A call is the identifier ``map_pk`` followed by ``(``
    (never text inside a literal or comment); nested parens and quotes in
    ``val`` are handled.  At the first unbalanced or non-3-argument call
    the rest of the statement is left untouched (it fails loudly at
    execution)."""
    toks = tokenize(sql)
    refs: set[tuple[str, str]] = set()
    out = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if _word(toks, i) == "map_pk" and i + 1 < len(toks) and toks[i + 1].text == "(":
            call = _call_args(toks, i + 1)
            if call is None or len(call[0]) != 3:
                out += [u.ws + u.text for u in toks[i:]]
                break
            (tbl, attr, val), i = call
            tbl, attr = tbl.strip("'\"").lower(), attr.strip("'\"").lower()
            val, inner = rewrite_map_pk(val)
            refs |= inner | {(tbl, attr)}
            out.append(f"{t.ws}(SELECT pk_id FROM __mappk_{tbl}_{attr} WHERE pk_val = ({val}))")
            continue
        out.append(t.ws + t.text)
        i += 1
    return "".join(out), refs
