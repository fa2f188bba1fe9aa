"""Per-task fixed cost of a reused PySpark Python worker.

Before every task the worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``, ``setup_spark_files``).  On CPython 3.11 that
makes every ``zipimporter`` on ``sys.path_importer_cache`` re-read the whole
central directory of its archive.  A worker holds about 16 of them (one per
imported subpackage of ``pyspark.zip``, plus the py4j zip and the Spark jar),
so each task pays that parse again although the archives never change.

:func:`guard_zip_invalidation` keeps an archive's directory while the
archive's ``(st_mtime_ns, st_size)`` matches the one this process last read;
a changed or missing archive takes the original path, so an archive that
does change is still re-read.  The directories the worker read before the
guard was installed (while importing this package) are adopted with the
archive's stat at install time, so a worker's second task re-reads nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

_seen: dict[str, tuple[tuple[int, int], dict]] = {}   # archive → (stat, directory)
_original = zipimport.zipimporter.invalidate_caches


def _stat(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _stat_guarded(self) -> None:
    key = _stat(self.archive)
    hit = _seen.get(self.archive)
    if hit is not None and hit[0] == key:       # stored keys are never None
        self._files = hit[1]
        return
    _original(self)
    if key is None:
        _seen.pop(self.archive, None)
    else:
        _seen[self.archive] = (key, self._files)


def guard_zip_invalidation() -> None:
    """Install the stat guard on ``zipimporter.invalidate_caches`` and adopt
    the directories of the zip importers already cached; a second call is a
    no-op."""
    global _original
    current = zipimport.zipimporter.invalidate_caches
    if current is not _stat_guarded:
        _original = current
        for imp in list(sys.path_importer_cache.values()):
            if isinstance(imp, zipimport.zipimporter):
                key = _stat(imp.archive)
                if key is not None:
                    _seen.setdefault(imp.archive, (key, imp._files))
        zipimport.zipimporter.invalidate_caches = _stat_guarded
