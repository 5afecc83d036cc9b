"""The schema-mapping pre-pass reads SQL text through one lexer
(``plans/sql_ast.tokenize``): no package module imports sqlglot, and no
``plans/`` module other than ``sql_ast.py`` uses ``re`` — except the one
markdown-fence pattern ``sql_rewrite._FENCE_RE``, which reads the LLM
response, not SQL.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scalable_data_integration_with_llms_spark",
)


def _modules(root: str):
    for dirpath, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, PKG), ast.parse(fh.read(), path)


def _sqlglot_imports(tree: ast.AST) -> list[int]:
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [node.module or ""]
        else:
            continue
        if any(n == "sqlglot" or n.startswith("sqlglot.") for n in names):
            lines.append(node.lineno)
    return lines


def _re_uses(tree: ast.AST) -> list[int]:
    """Lines using an attribute of ``re``, outside the ``_FENCE_RE``
    assignment."""
    allowed = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "_FENCE_RE" for t in node.targets
        ):
            allowed |= {id(n) for n in ast.walk(node)}
    return sorted(
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Name)
        and node.value.id == "re"
        and id(node) not in allowed
    )


def test_scanners_see_the_forms():
    src = "import sqlglot\nfrom sqlglot import exp\nimport sqlglot.expressions as e\nimport sqlglotx\n"
    assert _sqlglot_imports(ast.parse(src)) == [1, 2, 3]
    src = (
        'import re\n_FENCE_RE = re.compile(r"x", re.DOTALL)\n'
        '_KIND_RE = re.compile(r"y")\n"""re.match in a docstring"""\n'
        "def f(s):\n    return re.search('z', s)\n"
    )
    assert _re_uses(ast.parse(src)) == [3, 6]


def test_no_package_module_imports_sqlglot():
    offenders = [f"{rel}:{n}" for rel, tree in _modules(PKG) for n in _sqlglot_imports(tree)]
    assert not offenders, f"the pre-pass has one parser, plans/sql_ast.py: {offenders}"


def test_only_sql_ast_uses_re_in_plans():
    offenders = [
        f"{rel}:{n}"
        for rel, tree in _modules(os.path.join(PKG, "plans"))
        if rel != os.path.join("plans", "sql_ast.py")
        for n in _re_uses(tree)
    ]
    assert not offenders, f"read SQL through plans/sql_ast.tokenize: {offenders}"
