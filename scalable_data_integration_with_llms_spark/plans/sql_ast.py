"""The one SQL lexer of the Schema-Mapping pre-pass (U7) — no third-party
parser.

The reference parses LLM-emitted SQL once with sqlglot and reads every later
step off that parse (``Schema Mapping/AnalysisUtils/Evaluator.py:59-119``:
qualification sets the ``db`` arg on every unqualified Table node, then the
tree re-renders per dialect, ``:257,271``).  Here ``tokenize`` is that one
parse: statement splitting, classification and the ``map_pk`` rewrite
(``sql_rewrite``) walk its token list, and ``analyze`` adds a single-pass
structural analysis that classifies every identifier's ROLE — table
reference, alias definition, CTE name, column qualifier, function name,
plain column — so qualification rewrites only the roles the reference's
mechanism rewrites:

* unqualified table references whose name is in the mapping;
* column qualifiers (``t.col``) that follow a renamed table, because this
  engine renames to flat ``ns_t`` views rather than attaching a ``ns.``
  namespace, so dangling qualifiers must follow the rename.

Names defined INSIDE the statement — FROM/JOIN aliases, subquery aliases,
CTE names — shadow the mapping and are never rewritten.  (sqlglot's plain
``find_all(exp.Table)`` does not scope-resolve, so the reference would
rewrite a CTE reference that collides with a source-table name; this
backend treats statement-local names as shadowing, the conservative
reading.  The parity test pins agreement on the admissible shapes, which
contain no such collisions.)

Tokens carry their leading whitespace, so rendering is lossless
concatenation — the analog of sqlglot's ``.sql()`` re-render, minus any
reformatting.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>(?:\s|--[^\n]*|/\*.*?\*/)*+)   # possessive: trailing space or
                                        # comments never split into a token
    (?P<tok>
        '(?:[^']|'')*'            # string literal
      | "(?:[^"]|"")*"            # quoted identifier
      | `[^`]*`                   # backquoted identifier
      | \[[^\]]*\]                # bracketed identifier
      | [A-Za-z_][A-Za-z_0-9$]*   # bare identifier / keyword
      | [0-9]+(?:\.[0-9]+)?       # number
      | <> | <= | >= | != | \|\| | ::
      | .                         # single-char operator / punctuation
    )
    """,
    re.VERBOSE | re.DOTALL,
)

_KEYWORDS = frozenset(
    """select from where group by having order limit offset join inner left
    right full cross outer natural on using union except intersect all
    distinct as with recursive insert into values update set delete create
    drop table view temp temporary schema if not exists or replace and in is
    null like between case when then else end asc desc""".split()
)

# keywords that terminate a FROM clause's table-expecting region
_FROM_ENDERS = frozenset(
    """where group having order limit offset union except intersect on using
    set values select when then else end""".split()
)

_TABLE_INTRODUCERS = frozenset({"from", "join", "into", "update", "table", "view"})
_SKIP_AFTER_INTRODUCER = frozenset({"if", "not", "exists", "only"})


@dataclass
class Tok:
    kind: str  # ident | string | num | op
    text: str
    ws: str

    @property
    def lower(self) -> str:
        return self.text.lower()


@dataclass
class Analysis:
    """The statement's scoping facts: which token positions reference
    tables, which are column qualifiers, and the statement-local names
    (aliases + CTEs) that shadow the mapping."""

    tokens: list[Tok]
    table_refs: list[int] = field(default_factory=list)
    qualifiers: list[int] = field(default_factory=list)
    local_names: set[str] = field(default_factory=set)

    @property
    def rewritable(self) -> list[int]:
        """Token positions qualification may rename: table references and
        column qualifiers, minus the statement-local names."""
        return [
            i for i in self.table_refs + self.qualifiers
            if self.tokens[i].lower not in self.local_names
        ]


def tokenize(sql: str) -> list[Tok]:
    out: list[Tok] = []
    pos = 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if not m or m.end() == pos:
            # trailing whitespace/comment only
            out.append(Tok("op", "", sql[pos:]))
            break
        t = m.group("tok")
        if t[0] in "'":
            kind = "string"
        elif t[0] in '"`[' or re.match(r"[A-Za-z_]", t[0]):
            kind = "ident"
        elif t[0].isdigit():
            kind = "num"
        else:
            kind = "op"
        out.append(Tok(kind, t, m.group("ws")))
        pos = m.end()
    return out


def _is_plain_ident(tok: Tok) -> bool:
    return tok.kind == "ident" and tok.lower not in _KEYWORDS


def analyze(sql: str) -> Analysis:
    """One structural pass: classify identifier roles and collect the
    statement-local shadow set."""
    toks = tokenize(sql)
    a = Analysis(tokens=toks)
    depth = 0
    in_from: dict[int, bool] = {}
    expecting_table = False
    # WITH-clause sub-state: depth at which the CTE list lives, and whether
    # the next identifier is a CTE name
    cte_list_depth: int | None = None
    expecting_cte_name = False

    i = 0
    n = len(toks)
    while i < n:
        t = toks[i]
        if t.kind == "op":
            if t.text == "(":
                if expecting_table:
                    expecting_table = False  # subquery, not a table ref
                depth += 1
            elif t.text == ")":
                in_from.pop(depth, None)
                depth -= 1
                if in_from.get(depth):
                    # subquery in FROM just closed: optional [AS] alias
                    i = _maybe_alias(toks, i + 1, a) - 1
                if cte_list_depth == depth:
                    # a CTE body closed; a comma continues the list
                    expecting_cte_name = False
            elif t.text == "," and cte_list_depth == depth:
                expecting_cte_name = True
            elif t.text == "," and in_from.get(depth):
                expecting_table = True
            i += 1
            continue

        if t.kind != "ident":
            i += 1
            continue

        low = t.lower
        if low == "with" and depth == (cte_list_depth if cte_list_depth is not None else depth):
            cte_list_depth = depth
            expecting_cte_name = True
            i += 1
            continue
        if expecting_cte_name and _is_plain_ident(t):
            a.local_names.add(low)
            expecting_cte_name = False
            # skip optional column list; the AS + '(' body is handled by
            # the depth machinery
            i += 1
            continue
        if low in ("select",) and cte_list_depth == depth:
            cte_list_depth = None  # main body begins

        if low in _TABLE_INTRODUCERS:
            if low in ("from", "join"):
                in_from[depth] = True
            expecting_table = True
            i += 1
            continue
        if low in _FROM_ENDERS:
            in_from[depth] = False
            expecting_table = False
            i += 1
            continue
        if expecting_table:
            if low in _SKIP_AFTER_INTRODUCER or low in (
                "or", "replace", "temp", "temporary",
            ):
                i += 1
                continue
            if _is_plain_ident(t):
                if i + 2 < n and toks[i + 1].text == "." and toks[i + 2].kind == "ident":
                    # already namespace-qualified: left untouched (the
                    # reference only fills EMPTY db args)
                    i += 3
                else:
                    a.table_refs.append(i)
                    i += 1
                expecting_table = False
                if in_from.get(depth):
                    i = _maybe_alias(toks, i, a)
                continue
        i += 1

    # qualifier pass: IDENT '.' IDENT where the first isn't a table ref
    ref_set = set(a.table_refs)
    for j in range(len(toks) - 2):
        if (
            j not in ref_set
            and _is_plain_ident(toks[j])
            and toks[j + 1].kind == "op"
            and toks[j + 1].text == "."
            and toks[j + 2].kind == "ident"
            # not the tail of a previous qualified chain (x.y.z)
            and not (j >= 2 and toks[j - 1].text == "." and toks[j - 2].kind == "ident")
        ):
            a.qualifiers.append(j)
    return a


def _maybe_alias(toks: list[Tok], i: int, a: Analysis) -> int:
    """Consume an optional ``[AS] alias`` after a table ref / subquery in a
    FROM context; records the alias as statement-local.  Returns the next
    unconsumed index."""
    n = len(toks)
    if i < n and toks[i].kind == "ident" and toks[i].lower == "as":
        i += 1
    if i < n and _is_plain_ident(toks[i]):
        a.local_names.add(toks[i].lower)
        return i + 1
    return i


# sqlite type names with no Spark SQL equivalent, mapped inside CAST(...)
# expressions only (a bare column named "text" must not be touched)
_SQLITE_CAST_TYPES = {"text": "STRING", "real": "DOUBLE", "blob": "BINARY"}


def transpile_sqlite_to_spark(sql: str) -> str:
    """Dialect render for Spark SQL — the analog of the reference's
    ``query.ast.sql(dialect="sqlite")`` re-render before execution
    (``Evaluator.py:257,271``), in the opposite direction: the LLM/gold SQL
    is written for SQLite, the engine executes on Spark.  Only semantics-
    preserving transforms:

    * double-quoted identifiers → backticks (Spark reads ``"x"`` as a
      string literal, SQLite as an identifier);
    * ``CAST(e AS TEXT/REAL/BLOB)`` → STRING/DOUBLE/BINARY (types Spark
      lacks), detected positionally inside a CAST group so columns that
      happen to be NAMED ``text`` are untouched.

    SQLite-isms that change semantics (``INSERT OR REPLACE``,
    ``AUTOINCREMENT``) are deliberately NOT rewritten — they fail loudly at
    execution and surface in the statement's ignore_reason, rather than
    silently executing with different conflict behavior."""
    toks = tokenize(sql)
    out = []
    depth = 0
    cast_depths: list[int] = []
    prev_meaningful: Tok | None = None
    for t in toks:
        text = t.text
        if t.kind == "op":
            if text == "(":
                depth += 1
                if prev_meaningful is not None and prev_meaningful.lower == "cast":
                    cast_depths.append(depth)
            elif text == ")":
                if cast_depths and cast_depths[-1] == depth:
                    cast_depths.pop()
                depth -= 1
        elif t.kind == "ident":
            if text[0] == '"':
                inner = text[1:-1].replace('""', '"')
                text = "`" + inner.replace("`", "``") + "`"
            elif (
                cast_depths
                and cast_depths[-1] == depth
                and prev_meaningful is not None
                and prev_meaningful.lower == "as"
                and t.lower in _SQLITE_CAST_TYPES
            ):
                text = _SQLITE_CAST_TYPES[t.lower]
        if t.text.strip() or t.kind != "op":
            prev_meaningful = t
        out.append(t.ws + text)
    return "".join(out)


def qualify_sql(sql: str, mapping: dict[str, str]) -> str:
    """Rewrite unqualified table references (and the column qualifiers that
    follow them) per ``mapping``; statement-local names shadow the mapping."""
    a = analyze(sql)
    rewrite = {k.lower(): v for k, v in mapping.items()}
    texts = [t.text for t in a.tokens]
    for i in a.rewritable:
        texts[i] = rewrite.get(a.tokens[i].lower, texts[i])
    return "".join(t.ws + text for t, text in zip(a.tokens, texts))
