"""Layering pin — AST only, no Spark: the curated-table stages live in
plans/, and the catalog (queries/) calls them, never the reverse. No
module under etl_pipelines_spark/plans/ may import
etl_pipelines_spark.queries, at top level or inside a function."""

import ast
import pathlib

PLANS = pathlib.Path(__file__).resolve().parents[1] / "etl_pipelines_spark" / "plans"


def _imported_modules(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield node.lineno, alias.name
        elif isinstance(node, ast.ImportFrom) and node.module:
            yield node.lineno, node.module


def test_plans_never_import_queries():
    offenders = [
        f"{path.name}:{lineno} imports {mod}"
        for path in sorted(PLANS.glob("*.py"))
        for lineno, mod in _imported_modules(ast.parse(path.read_text()))
        if mod == "etl_pipelines_spark.queries"
        or mod.startswith("etl_pipelines_spark.queries.")
    ]
    assert list(PLANS.glob("*.py")), PLANS
    assert offenders == []
