"""Lazy zip-import invalidation for the engine's Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py:setup_spark_files``).  The workers
import pyspark itself from ``$SPARK_HOME/python/lib/pyspark.zip``, and
before CPython 3.13 ``zipimport.zipimporter.invalidate_caches`` re-parses
the archive's whole central directory at once — for every importer open
on it (one per package directory imported from the zip, 16 in a warm
worker: about 26.7k directory entries).  That was 0.39 s of every Python
task (median, CPython 3.11.7, 4 cores), paid before the UDF runs.
CPython 3.13 made the method lazy (it only drops the cached directory).

``install()`` backports the effect: an importer re-reads its archive only
when the archive's ``(st_mtime_ns, st_size, st_ino)`` differs from what
it saw at its last read.  An archive that changed, or that cannot be
stat'ed, goes through the original method exactly as before.  The package
calls ``install()`` on import only inside a task (``TaskContext.get()``
is set before the worker unpickles the UDF), so the driver process is
never patched; a reused worker keeps the patch for all later tasks.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

_STAMP = "_vss_archive_stamp"


def _archive_stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _lazy(original):
    @functools.wraps(original)
    def invalidate_caches(self):
        stamp = _archive_stamp(self.archive)
        if stamp is not None and getattr(self, _STAMP, None) == stamp:
            return
        original(self)
        setattr(self, _STAMP, stamp)

    return invalidate_caches


def installed() -> bool:
    return hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")


def install() -> None:
    """Make zip importers skip re-reading an unchanged archive.

    A no-op on CPython >= 3.13 and when already installed.  Importers that
    already exist are stamped with their archive's current state: in a
    worker they have just been invalidated by the task's setup, so their
    directory is current.
    """
    if sys.version_info >= (3, 13) or installed():
        return
    zipimport.zipimporter.invalidate_caches = _lazy(zipimport.zipimporter.invalidate_caches)
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            setattr(finder, _STAMP, _archive_stamp(finder.archive))
