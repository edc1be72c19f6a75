"""Guard: what a query pins is pinned and freed in one place, ``runtime.py``.

``runtime.track_persist`` and ``runtime.track_checkpoint`` register each
pinned frame, ``runtime.free`` frees one of them early, and
``runtime.release_caches`` (or the next outermost query build) frees the
rest.  A hand-rolled persist or checkpoint elsewhere either stays pinned
in a long-lived session or copies that bookkeeping.  The check is AST-only
(no Spark): any ``<x>.persist(...)``, ``<x>.cache(...)``,
``<x>.unpersist(...)``, ``<x>.localCheckpoint(...)`` or
``<x>.checkpoint(...)`` call in the package, ``scripts/`` or ``bench.py``
fails unless it is in ``runtime.py``.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "json_format_in_parquet_benchmark_spark"
HOME = PKG / "runtime.py"

LIFECYCLE_CALLS = ("persist", "cache", "unpersist", "localCheckpoint", "checkpoint")


def _scanned() -> list[Path]:
    files = sorted(PKG.rglob("*.py")) + sorted((ROOT / "scripts").glob("*.py"))
    return [p for p in files if p != HOME] + [ROOT / "bench.py"]


def _lifecycle_calls(path: Path) -> list[tuple[int, str]]:
    """(line, method) of each ``<x>.<lifecycle call>(...)``."""
    return [
        (node.lineno, node.func.attr)
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in LIFECYCLE_CALLS
    ]


def test_frames_are_pinned_and_freed_only_in_runtime():
    stray = sorted(
        f"{path.relative_to(ROOT)}:{line} (.{method})"
        for path in _scanned()
        for line, method in _lifecycle_calls(path)
    )
    assert not stray, (
        "persist/checkpoint outside runtime.py (use runtime.track_persist or "
        f"runtime.track_checkpoint, and runtime.free to free one early): {stray}"
    )


def test_the_guard_sees_a_hand_rolled_persist(tmp_path):
    src = tmp_path / "m.py"
    src.write_text("def f(df):\n    df.persist()\n    return df.localCheckpoint(eager=False)\n")
    assert sorted(_lifecycle_calls(src)) == [(2, "persist"), (3, "localCheckpoint")]
