"""Worker-side set-up for the Arrow lanes (scalar pandas UDFs,
``mapInPandas``), run inside Spark's Python workers.

Spark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``). Up to Python
3.12, ``zipimport.zipimporter.invalidate_caches`` re-reads its archive's
whole central directory on every call, and a worker holds one
``zipimporter`` per package it imported from a zip: on the ``ops``
benchmark each task re-read ``$SPARK_HOME/python/lib/pyspark.zip``
(1,328 entries) 16 times, ~0.2 s of worker CPU per task and ~73 % of the
worker's CPU under cProfile. Python 3.13 made that re-read lazy.

:func:`install` backports the saving: an importer re-reads its archive
only when the archive's ``(st_mtime_ns, st_size, st_ino)`` changed since
that importer last read it, so a rewritten archive is still picked up.
A reused worker stops re-reading once each of its importers has read
under the patch.
"""

from __future__ import annotations

import os
import sys
import zipimport

_REREAD = zipimport.zipimporter.invalidate_caches


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    # stat BEFORE reading: a write racing the read changes the key, so
    # the next call re-reads again instead of trusting a torn directory
    key = _stat_key(self.archive)
    if key is None or key != getattr(self, "_read_key", None):
        _REREAD(self)
        self._read_key = key


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process. Idempotent;
    a no-op outside a Spark Python worker and on Python 3.13+. Call it
    first thing in the function a Python UDF or ``mapInPandas`` runs."""
    if sys.version_info >= (3, 13):
        return
    from pyspark import TaskContext

    if TaskContext.get() is not None:
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
