"""Guard: scratch storage is placed in one place, ``runtime.py``.

``runtime.scratch_dir`` puts every staged input, sink, checkpoint and
memoized layout under one per-process root keyed by ``runtime.sf_tag``, and
removes the root at exit.  A hand-rolled temp path elsewhere either aliases
two input roots that share a basename, clobbers another process's files in
a shared ``TMPDIR``, or is never cleaned up.  The check is AST-only (no
Spark): any ``tempfile`` import, any ``gettempdir``/``mkdtemp`` reference,
or any string literal starting with ``/tmp`` in the package, ``scripts/``
or ``bench.py`` fails unless it is in ``runtime.py`` or allowlisted.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "json_format_in_parquet_benchmark_spark"
HOME = PKG / "runtime.py"

_CALLS = ("gettempdir", "mkdtemp")

# (file, use) -> why the path outlives one process on purpose.
ALLOWED = {
    ("scripts/run_scale_probe.py", "'/tmp/jfipb_scale_probe'"):
    "--workdir default: the run's staged synthetic tables, removed when the "
    "run ends; a flag, so a multi-million-row tier can stage on a larger disk",
}


def _scratch_uses(path: Path) -> list[tuple[int, str]]:
    """(line, what) of each temp-path use outside the scratch home."""
    out: list[tuple[int, str]] = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out += [(node.lineno, "import tempfile") for a in node.names
                    if a.name == "tempfile"]
        elif isinstance(node, ast.ImportFrom) and node.module == "tempfile":
            out.append((node.lineno, "from tempfile import"))
        elif isinstance(node, ast.Attribute) and node.attr in _CALLS:
            out.append((node.lineno, node.attr))
        elif isinstance(node, ast.Name) and node.id in _CALLS:
            out.append((node.lineno, node.id))
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.value.startswith("/tmp")
        ):
            out.append((node.lineno, repr(node.value)))
    return out


def _scanned() -> list[Path]:
    files = sorted(PKG.rglob("*.py")) + sorted((ROOT / "scripts").glob("*.py"))
    return [p for p in files if p != HOME] + [ROOT / "bench.py"]


def test_scratch_paths_are_placed_only_in_runtime():
    uses = [
        (str(path.relative_to(ROOT)), line, what)
        for path in _scanned()
        for line, what in _scratch_uses(path)
    ]
    stray = sorted(
        f"{rel}:{line} ({what})" for rel, line, what in uses
        if (rel, what) not in ALLOWED
    )
    assert not stray, (
        "temp path chosen outside runtime.py (use runtime.scratch_dir, or "
        f"runtime.write_once for a write memoized per process): {stray}"
    )
    stale = sorted(set(ALLOWED) - {(rel, what) for rel, _, what in uses})
    assert not stale, f"ALLOWED entries no longer found: {stale}"
