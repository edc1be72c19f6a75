"""Guard: session SQL confs are set in one place, ``runtime.py``.

``runtime.SESSION_PINS`` holds the confs every query's answer depends on
(``query_scope`` sets them), and ``runtime.scoped_conf`` is the one
save/set/restore for an eager action.  A hand-rolled ``conf.set`` elsewhere
either leaks a conf into the caller's session or copies that restore logic.
The check is AST-only (no Spark): any call ``<x>.conf.set(...)`` or
``<x>.conf.unset(...)`` in the package, ``scripts/`` or ``bench.py`` fails
unless its enclosing function is allowlisted.

A second guard keeps plans independent of the host's core count: no
``defaultParallelism`` read and no session ``.range(...)`` without an explicit
``numPartitions`` in the package or ``scripts/``.  ``runtime.SESSION_PINS``
lets AQE size cached plans, so no persist needs a hand-picked width.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "json_format_in_parquet_benchmark_spark"
HOME = PKG / "runtime.py"

# (file, enclosing function) -> why the conf is set there, not in runtime.
ALLOWED = {
    ("json_format_in_parquet_benchmark_spark/plans/queries_graph.py", "graph_kcore_word"):
    "tighten-only maxPlanStringLength cap: guards an OOM that fires when the "
    "returned lazy plan executes, so it is deliberately never restored, and "
    "only this query needs it",
}


def _scanned() -> list[Path]:
    files = sorted(PKG.rglob("*.py")) + sorted((ROOT / "scripts").glob("*.py"))
    return [p for p in files if p != HOME] + [ROOT / "bench.py"]


def _conf_writes(path: Path) -> list[tuple[str, int]]:
    """(enclosing function, line) of each ``<x>.conf.set/unset`` call."""
    out: list[tuple[str, int]] = []

    def visit(node: ast.AST, func: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("set", "unset")
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "conf"
        ):
            out.append((func, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse(path.read_text(), str(path)), "<module>")
    return out


def test_session_confs_are_set_only_in_runtime():
    found: dict[tuple[str, str], list[int]] = {}
    for path in _scanned():
        for func, line in _conf_writes(path):
            found.setdefault((str(path.relative_to(ROOT)), func), []).append(line)
    stray = sorted(
        f"{rel}:{line} ({func})"
        for (rel, func), lines in found.items()
        if (rel, func) not in ALLOWED
        for line in lines
    )
    assert not stray, (
        "session conf set outside runtime.py (use runtime.scoped_conf, or "
        f"runtime.SESSION_PINS for a pin every query needs): {stray}"
    )
    stale = sorted(set(ALLOWED) - set(found))
    assert not stale, f"ALLOWED entries no longer set a conf: {stale}"


# Package and script files allowed to read the core count -> why.
CORE_COUNT_ALLOWED = {
    "json_format_in_parquet_benchmark_spark/generator.py":
    "builds the benchmark's input corpus; its plan is frozen with the benchmark",
}


def _core_count_reads(path: Path) -> list[tuple[int, str]]:
    """(line, what) of each ``defaultParallelism`` attribute and each
    ``<x>.range(...)`` call without a ``numPartitions`` (a session ``range``
    takes its split count from ``defaultParallelism``).  A builtin
    ``range(...)`` is a bare name and is never matched."""
    out: list[tuple[int, str]] = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Attribute) and node.attr == "defaultParallelism":
            out.append((node.lineno, "defaultParallelism"))
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "range"
            and len(node.args) < 4
            and not any(k.arg == "numPartitions" for k in node.keywords)
        ):
            out.append((node.lineno, ".range() without numPartitions"))
    return out


def test_no_plan_reads_the_core_count():
    found: dict[str, list[str]] = {}
    for path in _scanned():
        if path == ROOT / "bench.py":
            continue
        for line, what in _core_count_reads(path):
            found.setdefault(str(path.relative_to(ROOT)), []).append(f"{line}: {what}")
    stray = sorted(
        f"{rel}:{hit}"
        for rel, hits in found.items()
        if rel not in CORE_COUNT_ALLOWED
        for hit in hits
    )
    assert not stray, (
        "plan shape depends on the core count (key a persist by column only, "
        f"or give an explicit partition count): {stray}"
    )
    stale = sorted(set(CORE_COUNT_ALLOWED) - set(found))
    assert not stale, f"CORE_COUNT_ALLOWED entries no longer read it: {stale}"
