"""No dead imports: every name a module under ``sigma_rx7_spark/``,
``tests/`` or ``scripts/`` imports is used where it is imported.

No linter runs in the tier-1 suite, so this reads each module's syntax
tree: a name bound by ``import`` / ``from ... import`` must appear as a
``Name`` in the scope that imports it (the module, or the function
whose body holds the import, nested functions included). An import
statement that carries ``# noqa: F401`` on any of its lines is a
deliberate re-export and is skipped. ``from __future__`` and star
imports bind no checkable name.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
TREES = ("sigma_rx7_spark", "tests", "scripts")


def _unused(text):
    """(line, name) of each imported name its scope never uses: the
    module for a module-level import, the innermost function for one
    inside a function."""
    tree = ast.parse(text)
    lines = text.splitlines()
    scopes = [tree] + [n for n in ast.walk(tree)
                       if isinstance(n, (ast.FunctionDef,
                                         ast.AsyncFunctionDef))]
    out = []
    for scope in scopes:
        used = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}
        for node in _own_imports(scope):
            if (isinstance(node, ast.ImportFrom)
                    and node.module == "__future__"):
                continue
            span = lines[node.lineno - 1:node.end_lineno]
            if any("# noqa: F401" in ln for ln in span):
                continue
            out += [(node.lineno, name) for name in
                    (a.asname or a.name.split(".")[0] for a in node.names)
                    if name != "*" and name not in used]
    return sorted(out)


def _own_imports(scope):
    """The import statements of a scope, not of the functions nested
    in it."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            yield node
        elif not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            todo += ast.iter_child_nodes(node)


def test_checker_flags_an_unused_import():
    text = ("import os\nimport sys  # noqa: F401\nfrom a import b, c\n"
            "c()\ndef f():\n    import os\n    return 1\n")
    assert _unused(text) == [(1, "os"), (3, "b"), (6, "os")]


@pytest.mark.parametrize("tree", TREES)
def test_no_unused_imports(tree):
    hits = []
    for path in sorted((ROOT / tree).rglob("*.py")):
        rel = path.relative_to(ROOT)
        hits += [f"{rel}:{line}: {name}"
                 for line, name in _unused(path.read_text())]
    assert not hits, "\n".join(hits)
