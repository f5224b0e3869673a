"""Lazy zip-directory invalidation for reused PySpark Python workers.

At the start of every task PySpark's ``worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``.  On CPython 3.10-3.12,
``zipimport.zipimporter.invalidate_caches()`` re-reads the whole
central directory of its archive at once, and a worker holds one
importer per package prefix of each archive on its path
(``pyspark.zip``, the Spark core jar).  A worker pays about 0.2 s per
task for it before reading a row.  CPython 3.13 made the call lazy: it
only drops the archive's entry from ``zipimport._zip_directory_cache``,
and the next lookup reads the directory once for all importers of that
archive.

:func:`install` backports that behaviour on ``(3, 10) <= version <
(3, 13)`` and does nothing elsewhere.  The package installs it at
import time inside reused Python workers only (``SPARK_REUSE_WORKER``
set), so each worker process pays the directory read once instead of
once per task; the driver process is left untouched.  Like 3.13,
``pkgutil.iter_modules`` over a zip path raises ``KeyError`` if it runs
between an invalidation and the next import lookup in that archive.
"""

from __future__ import annotations

import sys
import zipimport


def _files(self):
    # 3.13's zipimporter._get_files: the shared cache entry, re-read
    # once after an invalidation dropped it.
    cache = zipimport._zip_directory_cache
    try:
        return cache[self.archive]
    except KeyError:
        try:
            files = cache[self.archive] = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            files = {}
        return files


def _invalidate_caches(self):
    """Drop the archive's directory; the next lookup reloads it."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def install() -> bool:
    """Make ``zipimporter.invalidate_caches`` lazy, as on CPython 3.13.

    ``__init__`` stores its freshly read directory in the shared cache
    before it assigns ``self._files``, so the property's setter has
    nothing to keep.  Returns whether this call changed the class:
    False on other Python versions and when already installed.
    """
    cls = zipimport.zipimporter
    if not (3, 10) <= sys.version_info[:2] < (3, 13):
        return False
    if cls.__dict__.get("invalidate_caches") is _invalidate_caches:
        return False
    cls._files = property(_files, lambda self, files: None)
    cls.invalidate_caches = _invalidate_caches
    return True
