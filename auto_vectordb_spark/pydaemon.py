"""The engine's Python worker daemon: ``pyspark.daemon`` with a stat-keyed
``zipimporter.invalidate_caches``.

Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar first on a
worker's ``PYTHONPATH``, so a worker imports pyspark from a zip and holds a
``zipimporter`` per package directory it touched (16 on CPython 3.11: 12
over ``pyspark.zip``, 2 over the jar, 2 over py4j). Every task's set-up
(``pyspark.worker_util.setup_spark_files``) calls
``importlib.invalidate_caches()``, and before CPython 3.13
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory: about 26.7k entries, 150-200 ms per task on a 4-core host, half
of a search query. CPython 3.13 made that call lazy, and there this
replacement changes nothing material.

:func:`invalidate_caches` re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the stat taken before its last
read. Otherwise it points the importer at the shared
``zipimport._zip_directory_cache`` entry, so every importer over one archive
sees a re-read that any of them made.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module and
workers fork from the daemon, so every task inherits the replacement. It is
installed only when the module runs as ``__main__``: importing it patches
nothing. The module imports the stdlib and pyspark only.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> its (st_mtime_ns, st_size), taken before its last read
_read_stamps: dict[str, tuple[int, int] | None] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads ``self.archive`` only
    if the archive changed since its last read."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)  # noqa: SLF001
    if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stat before the read: a rewrite racing it leaves an old stamp, so the
    # next call reads again rather than keeping a stale directory
    _read_stamps[self.archive] = stamp
    _stock_invalidate(self)


if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    # the importable copy, so workers report the module's real name
    from auto_vectordb_spark.pydaemon import invalidate_caches as _stat_keyed

    zipimport.zipimporter.invalidate_caches = _stat_keyed
    importlib.invalidate_caches()  # read each archive once, before workers fork
    daemon.manager()
