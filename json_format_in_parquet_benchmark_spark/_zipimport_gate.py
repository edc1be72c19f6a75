"""Re-read a zip archive on ``importlib.invalidate_caches()`` only if it changed.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``).  On CPython < 3.13
every ``zipimporter`` in ``sys.path_importer_cache`` then eagerly re-reads its
archive's central directory: on a Spark worker that is pyspark.zip once per
imported subpackage, py4j's zip and the spark-core jar, ~27k directory
entries and 0.1-0.25 s per task.  CPython 3.13 made the re-read lazy.

Importing this module replaces ``zipimport.zipimporter.invalidate_caches``
with a gated version: an archive is re-read only when its
``(st_mtime_ns, st_size)`` differs from the one it had when this process
last read it successfully, or when ``os.stat`` fails; otherwise the
importer takes the directory of that last read.  The stamp is kept per
archive, not per importer, so an importer created later (a newly imported
subpackage of pyspark.zip) does not re-read an archive that is already
stamped.  A rewritten archive is still re-read, so what imports is
unchanged.  The package ``__init__`` imports this module, so every worker
that unpickles an engine kernel installs the gate for its later tasks.  On
CPython >= 3.13 the stdlib method is left as it is.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


# archive path -> its stamp when this module last read it successfully
_read_stamps: dict[str, tuple[int, int]] = {}


def invalidate_caches(self) -> None:
    """Reload the file data of the archive path if the archive changed."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    known = _read_stamps.get(self.archive)
    if stamp is not None and stamp == known and files is not None:
        self._files = files
        return
    _stdlib_invalidate_caches(self)
    # the stdlib method drops the archive from the directory cache when the
    # read fails; such an archive is retried on the next call
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _read_stamps[self.archive] = stamp
    else:
        _read_stamps.pop(self.archive, None)


if sys.version_info < (3, 13) and (
    zipimport.zipimporter.invalidate_caches.__module__ != __name__
):
    _stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches
    zipimport.zipimporter.invalidate_caches = invalidate_caches
