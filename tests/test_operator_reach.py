"""Guard: every top-level function of the operator layer is reached by the
package itself.

A kernel that no registered query, operator or helper calls is a fork kept
beside the path that runs; it belongs in git history and ``results/*.txt``,
not in a production module.  The check is AST-only (no Spark): a function
counts as reached when a name or attribute equal to it appears anywhere in
the package outside its own definition.  Imports and ``__init__``
re-exports bind names without using them, so they do not count.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "json_format_in_parquet_benchmark_spark"
SCOPE_DIRS = ("operators", "functions", "sources", "streaming")
SCOPE_FILES = ("tables.py", "plans/registry.py")

# Unreached on purpose; each entry names its user outside the package.
ALLOWED = {
    "knn_graph_ivf": "raw-cosine reference of "
    "tests/test_properties.py::test_knn_graph_exact_quantized_ranking_faithful",
    "_pq_code_expr": "SQL-expression reference of "
    "tests/test_properties.py::test_pq_assign_fast_agrees_with_expr_path",
    "pack_shard_spark": "single-window reference of "
    "tests/test_properties.py::test_pack_shards_two_phase_equals_single_window",
}


def _scope_files() -> list[Path]:
    files = [p for d in SCOPE_DIRS for p in sorted((PKG / d).glob("*.py"))]
    return files + [PKG / f for f in SCOPE_FILES]


def _references() -> dict[str, list[tuple[Path, int]]]:
    refs: dict[str, list[tuple[Path, int]]] = {}
    for path in PKG.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            else:
                continue
            refs.setdefault(name, []).append((path, node.lineno))
    return refs


def _unreached() -> dict[str, str]:
    refs = _references()
    out = {}
    for path in _scope_files():
        for fn in ast.parse(path.read_text(), str(path)).body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            outside = [
                (p, line)
                for p, line in refs.get(fn.name, [])
                if not (p == path and fn.lineno <= line <= fn.end_lineno)
            ]
            if not outside:
                out[fn.name] = f"{path.relative_to(PKG)}:{fn.lineno}"
    return out


def test_every_operator_layer_function_is_reached_by_the_package():
    unreached = _unreached()
    stray = {n: where for n, where in unreached.items() if n not in ALLOWED}
    assert not stray, (
        "functions no package code calls (delete them, or list their user "
        f"in ALLOWED): {sorted(stray.items())}"
    )
    stale = sorted(set(ALLOWED) - set(unreached))
    assert not stale, f"ALLOWED entries now reached or gone: {stale}"
