"""Series selection has one owner: `operators.selection.apply_matchers`.

Prometheus's absent-label rule (a matcher on a label no series carries
keeps every series or none, by whether it matches "") lives in
``apply_matchers`` alone.  A reader that filters ``Matcher.to_column()``
itself, or resolves ``matches_empty()`` by hand, re-implements that rule
or crashes on a missing column — this test fails when one appears."""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "tsdb_parquet_spark"
OWNER = "operators/selection.py"

#: (module, enclosing function) pairs allowed to call ``to_column()``:
#: - ``_info`` builds the ``when`` condition that blanks non-matching
#:   info labels; it selects no series;
#: - ``delete_samples`` keeps plain matcher predicates on purpose:
#:   widening a delete to every series because a label is absent needs
#:   its own decision.
TO_COLUMN_EXEMPT = {
    ("plans/promql.py", "_info"),
    ("sources/maintenance.py", "delete_samples"),
}


def _calls(tree: ast.AST, attr: str):
    """(enclosing function name, line) of every ``<x>.<attr>(...)``."""
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == attr
        ):
            found.append((func, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def test_matchers_filtered_only_through_apply_matchers():
    violations, exempt_seen = [], set()
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == OWNER:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for func, line in _calls(tree, "matches_empty"):
            violations.append(f"{rel}:{line} matches_empty() in {func}")
        for func, line in _calls(tree, "to_column"):
            if (rel, func) in TO_COLUMN_EXEMPT:
                exempt_seen.add((rel, func))
            else:
                violations.append(f"{rel}:{line} to_column() in {func}")
    assert violations == []
    # an exemption whose call site is gone must go too, so the list
    # cannot silently cover new code
    assert exempt_seen == TO_COLUMN_EXEMPT
