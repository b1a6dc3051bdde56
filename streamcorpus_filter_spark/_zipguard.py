"""The package's one patch to the import system. PySpark's worker calls
``importlib.invalidate_caches()`` at the start of every task, and before
Python 3.13 each cached ``zipimporter`` then re-reads its archive's whole
directory (pyspark.zip per imported sub-package, the py4j zip, the
spark-core jar): about 0.25 s a task (BENCH/BASELINE.md finding 15). The
guard re-reads only an archive whose (dev, inode, size, mtime) changed.

``__init__`` installs it once. A worker first imports the package while
it unpickles a task's UDF (``pyspark.worker.read_udfs``), after the task
context is set and after that task's ``invalidate_caches()``, so the
importers cached then are fresh and are stamped at install. Outside a
task (driver, tests) nothing is installed: there the caches are of
unknown age. A UDF whose closure never imports the package (pure pandas)
gets no guard. A LEAF module that reads ``sys.modules`` instead of
importing pyspark, so ``kernels/`` stays Spark-free."""

from __future__ import annotations

import os
import sys
import zipimport


def _archive_key(path: str) -> tuple[int, int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns)


def guard_zip_invalidation() -> None:
    """Idempotent; installs only in a task on Python < 3.13, which
    invalidates eagerly."""
    pyspark = sys.modules.get("pyspark")
    if sys.version_info >= (3, 13) or pyspark is None:
        return
    if pyspark.TaskContext.get() is None:
        return
    zi = zipimport.zipimporter
    if hasattr(zi.invalidate_caches, "unguarded"):
        return
    reread = zi.invalidate_caches
    stamps: dict[str, tuple[tuple[int, int, int, int], dict]] = {}

    def stamp(archive: str, key) -> None:
        files = zipimport._zip_directory_cache.get(archive)
        if key is None or files is None:
            stamps.pop(archive, None)
        else:
            stamps[archive] = (key, files)

    def invalidate_caches(self) -> None:
        key = _archive_key(self.archive)
        seen = stamps.get(self.archive)
        if (
            key is not None
            and seen is not None
            and seen[0] == key
            and zipimport._zip_directory_cache.get(self.archive) is seen[1]
        ):
            self._files = seen[1]
            return
        reread(self)
        stamp(self.archive, key)

    invalidate_caches.unguarded = reread
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zi):
            stamp(imp.archive, _archive_key(imp.archive))
    zi.invalidate_caches = invalidate_caches
