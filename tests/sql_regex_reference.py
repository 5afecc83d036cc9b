"""The word-boundary regex table-reference qualifier, kept verbatim as the
reference the built-in qualifier (``plans/sql_ast.qualify_sql``) is
compared against on the admissible statement shapes.  Not used by the
package: the pre-pass reads SQL text only through ``sql_ast.tokenize``.
"""

from __future__ import annotations

import re

# The protected-segment splitter: odd split parts are passed through
# untouched and never matched against.  Protected: single-quoted literals
# (with '' escapes), double-quoted identifiers, ``--`` line comments, and
# ``/* */`` block comments.
_LITERAL_SPLIT = re.compile(
    r"('(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"|--[^\n]*|/\*.*?\*/)", re.DOTALL
)


def _table_ref_pattern(names) -> re.Pattern:
    """The matcher for bare table references: word-boundary, longest
    name first, case-insensitive; ``(?<![\\w.])`` protects already-qualified
    ``ns.t``, ``(?![\\w(]`` keeps function calls and longer identifiers out
    while letting ``t.col`` qualifiers follow a rename."""
    return re.compile(
        r"(?<![\w.])(" + "|".join(re.escape(t) for t in sorted(names, key=len, reverse=True)) + r")(?![\w(])",
        re.IGNORECASE,
    )


def _replace_table_refs(sql: str, mapping: dict[str, str]) -> str:
    """Word-boundary replacement of bare table names outside string
    literals.  Names already namespace-qualified (``ns.t``) are protected by
    the lookbehind; a trailing ``.`` is allowed so table-qualified column
    references (``t.col``) follow the table rename and don't dangle."""
    pattern = _table_ref_pattern(mapping)
    out = []
    for i, part in enumerate(_LITERAL_SPLIT.split(sql)):
        if i % 2 == 1:
            out.append(part)
        else:
            out.append(pattern.sub(lambda m: mapping[m.group(1).lower()], part))
    return "".join(out)
