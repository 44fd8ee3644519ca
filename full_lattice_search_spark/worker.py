"""Python-worker bootstrap: pay the zip-archive directory read once per worker.

PySpark's worker ends the setup of EVERY task with
``importlib.invalidate_caches()`` (``pyspark/worker_util.py:setup_spark_files``).
On CPython 3.11 that makes each ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-parse its archive's central directory in pure
Python.  A warm worker holds ~16 of them (pyspark.zip, the py4j zip and the
spark-core jar, one per imported sub-package), so every Arrow UDF task paid
~0.25 s of CPU before running a single row — about a quarter of a search
query.

``install_zip_guard`` swaps those importers (and the zipimporter path hook)
for ``StatGuardedZipImporter``, whose ``invalidate_caches`` re-reads an
archive only when its ``(st_mtime_ns, st_size)`` differs from the stat taken
before the last read.  A rewritten archive is still re-read, so invalidation
keeps its meaning.  The package ``__init__`` installs it only inside a Python
worker (``TaskContext.get()`` is set while the worker unpickles an engine
UDF); the driver's import system is never touched.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) taken just before its last read
_read_stats: dict[str, tuple[int, int]] = {}


def _stat_key(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StatGuardedZipImporter(zipimport.zipimporter):
    """A zipimporter whose ``invalidate_caches`` skips unchanged archives."""

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and \
                _read_stats.get(self.archive) == key:
            self._files = files
            return
        super().invalidate_caches()
        if key is not None and self.archive in zipimport._zip_directory_cache:
            _read_stats[self.archive] = key
        else:
            _read_stats.pop(self.archive, None)


def install_zip_guard() -> None:
    """Swap every plain zipimporter, and the zipimporter path hook, for
    ``StatGuardedZipImporter``.  Idempotent.  Each archive is re-read once
    here so its stat is on record; after that an unchanged archive costs
    one ``stat`` per importer per ``invalidate_caches()``."""
    hooks = sys.path_hooks
    for i, hook in enumerate(hooks):
        if hook is zipimport.zipimporter:
            hooks[i] = StatGuardedZipImporter
    for finder in list(sys.path_importer_cache.values()):
        if type(finder) is zipimport.zipimporter:
            # same instance, new class: loaders of already-imported modules
            # keep being refreshed on a real change
            finder.__class__ = StatGuardedZipImporter
            finder.invalidate_caches()  # reads only an unrecorded archive
