"""The zipimport gate (``_zipimport_gate``): an unchanged archive is not
re-read on ``invalidate_caches()``, a rewritten one is, and a deleted one
raises nothing.  Pure Python, no Spark."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from json_format_in_parquet_benchmark_spark import _zipimport_gate

GATED = sys.version_info < (3, 13)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def read_counter(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in call order."""
    calls: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_gate_installed_below_3_13():
    method = zipimport.zipimporter.invalidate_caches
    if GATED:
        assert method is _zipimport_gate.invalidate_caches
    else:
        assert method.__module__ == "zipimport"


@pytest.mark.skipif(not GATED, reason="CPython >= 3.13 re-reads lazily itself")
def test_unchanged_zip_is_not_reread(tmp_path, read_counter):
    archive = str(tmp_path / "unchanged.zip")
    _write_zip(archive, {"zg_unchanged_a": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()  # first call: the gate has no stamp yet
    assert read_counter.count(archive) == 2  # constructor + first call
    for _ in range(3):
        importer.invalidate_caches()
    assert read_counter.count(archive) == 2


@pytest.mark.skipif(not GATED, reason="CPython >= 3.13 re-reads lazily itself")
def test_later_importer_of_stamped_zip_is_not_reread(tmp_path, read_counter):
    """A subpackage importer created after the archive was stamped (as when a
    task first imports another pyspark.zip subpackage) takes the stamped
    directory instead of re-reading the archive."""
    archive = str(tmp_path / "shared.zip")
    _write_zip(archive, {"zg_shared_pkg/__init__": "", "zg_shared_pkg/m": "X = 1\n"})
    first = zipimport.zipimporter(archive)
    first.invalidate_caches()
    reads = read_counter.count(archive)
    later = zipimport.zipimporter(f"{archive}/zg_shared_pkg")
    later.invalidate_caches()
    first.invalidate_caches()
    assert read_counter.count(archive) == reads
    assert later._files is first._files is zipimport._zip_directory_cache[archive]
    assert later.find_spec("m") is not None


def test_rewritten_zip_is_reread_and_new_module_imports(
    tmp_path, monkeypatch, read_counter
):
    archive = str(tmp_path / "rewritten.zip")
    _write_zip(archive, {"zg_rewritten_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zg_rewritten_a").X == 1
        importlib.invalidate_caches()
        before = read_counter.count(archive)

        _write_zip(archive, {"zg_rewritten_a": "X = 1\n", "zg_rewritten_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert read_counter.count(archive) == before + 1
        assert importlib.import_module("zg_rewritten_b").Y == 2
    finally:
        sys.path_importer_cache.pop(archive, None)
        for name in ("zg_rewritten_a", "zg_rewritten_b"):
            sys.modules.pop(name, None)


def test_deleted_zip_raises_nothing(tmp_path):
    archive = tmp_path / "deleted.zip"
    _write_zip(archive, {"zg_deleted_a": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    importer.invalidate_caches()
    archive.unlink()
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert importer.find_spec("zg_deleted_a") is None
