"""Parse each import zip once per Python worker, not on every task.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Up to CPython
3.12 that makes every cached ``zipimporter`` re-read its archive's whole
central directory: ``pyspark.zip`` (1,328 entries) once per package
prefix imported from it, the Spark core jar (5,359 entries) and py4j:
0.12-0.23 CPU-s per task on a 4-vCPU VM, more than the recurrence and
rank kernels themselves spend on a small partition.

``install()`` replaces ``zipimporter.invalidate_caches`` with a version
that keeps the directory when the archive's ``(st_mtime_ns, st_size,
st_ino)`` equals the stamp taken before its last read, and otherwise
calls the stock method, so a changed, unreadable or never-stamped
archive is re-read exactly as before. CPython 3.13 made the re-read lazy
(``zipimporter._get_files``); there nothing is installed.

The package ``__init__`` calls ``install()``: a Python worker imports the
package when it unpickles the engine's ``grouped_apply`` kernels, so each
worker reads each archive on its first one or two tasks only.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (stat stamp taken before the read, directory it read)
_read_stamps: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stat_stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_caches(self) -> None:
    """Reload the archive's directory unless the file is unchanged since
    its last read."""
    stamp = _stat_stamp(self.archive)
    seen = _read_stamps.get(self.archive)
    if stamp is not None and seen is not None and seen[0] == stamp:
        self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _stock_invalidate_caches(self)
    # the stock method caches the directory it read and drops the entry
    # of an archive it could not read
    if stamp is not None and zipimport._zip_directory_cache.get(self.archive) is self._files:
        _read_stamps[self.archive] = (stamp, self._files)
    else:
        _read_stamps.pop(self.archive, None)


def install() -> bool:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.
    Idempotent; returns whether the replacement is in place (False where
    zipimport is already lazy)."""
    if hasattr(zipimport.zipimporter, "_get_files"):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True
