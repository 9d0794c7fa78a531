"""Lazy zip-directory invalidation for Python < 3.13 (a CPython 3.13 backport).

PySpark's Python workers import ``pyspark`` from ``pyspark.zip``, and every
task starts with ``importlib.invalidate_caches()`` (``worker_util.
setup_spark_files``). Before 3.13, ``zipimporter.invalidate_caches`` re-reads
the archive's central directory on the spot, once per zipimporter, and a
worker holds one zipimporter per imported pyspark subpackage (14–16). That is
~0.2 s of every task on a reused worker, before the task's own work starts.

CPython 3.13 made the invalidation lazy: ``invalidate_caches`` only drops the
archive's entry in ``zipimport._zip_directory_cache``, and the next lookup
through any importer of that archive re-reads the directory once for all of
them. :func:`install` gives 3.11/3.12's ``zipimporter`` the same behaviour by
turning its per-instance ``_files`` dict into a property over that shared
cache. Imports resolve exactly as before; only when the directory is read
changes.

The package's ``__init__`` installs it first thing, so a worker installs it
while unpickling the first library closure it runs, and each later task on
that worker pays nothing for the invalidation.
"""

from __future__ import annotations

import sys
import zipimport


def _get_files(self):
    """The archive's directory, read on the first lookup after an
    invalidation (3.13's ``zipimporter._get_files``)."""
    cache = zipimport._zip_directory_cache
    try:
        return cache[self.archive]
    except KeyError:
        try:
            files = cache[self.archive] = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            files = {}
        return files


def _set_files(self, files):
    # 3.11/3.12's __init__ assigns ``self._files`` before ``self.archive``,
    # right after storing the same dict in the shared cache, so there is
    # nothing to keep here (and ``self.archive`` must not be read).
    pass


def _invalidate_caches(self):
    """Drop the archive's directory; the next lookup re-reads it."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def install() -> bool:
    """Make ``zipimporter.invalidate_caches`` lazy; idempotent.

    Returns True when the lazy version is in place, False where there is
    nothing to patch (Python ≥ 3.13 already has it)."""
    importer = zipimport.zipimporter
    if sys.version_info >= (3, 13) or not hasattr(importer, "invalidate_caches"):
        return False
    if importer.invalidate_caches is _invalidate_caches:
        return True
    importer._files = property(_get_files, _set_files)
    importer.invalidate_caches = _invalidate_caches
    return True
