"""Python worker daemon for sessions built by :func:`session.get_spark`.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so
Spark starts it in place of ``pyspark.daemon`` and every Python worker
(Arrow UDFs, ``mapInPandas``, Python RDD tasks) forks from it.  It
changes one thing before handing over to ``pyspark.daemon.manager()``.

Before each task the worker calls ``importlib.invalidate_caches()``,
and CPython's ``zipimporter.invalidate_caches`` re-parses the whole
central directory of its archive on every call.  The workers import
PySpark from ``pyspark.zip`` and py4j from its source zip through one
importer per package directory (16 of them for a ``mapInPandas``
task), so every task re-parsed 26,672 directory entries: about 0.2 s
of fixed cost per Python task.  Here an importer re-reads its archive only when
the archive's ``(st_mtime_ns, st_size)`` differs from the last read of
that archive in this process, or when the stat fails; an unchanged
archive hands back the directory already read.  A rewritten archive,
or one newly shipped with ``addPyFile``, is still re-read.

    python -m wrf_to_geodataframe_spark.worker_daemon [worker module]

is how Spark starts it; the argument is passed on to ``pyspark.daemon``.
"""

from __future__ import annotations

import os
import zipimport

_original_invalidate_caches = zipimport.zipimporter.invalidate_caches

# archive path -> ((st_mtime_ns, st_size) taken just before the read,
# the directory that read returned)
_last_read: dict[str, tuple[tuple[int, int], dict]] = {}


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read of an
    archive whose size and mtime are those of its last read."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _last_read.pop(self.archive, None)
        _original_invalidate_caches(self)
        return
    key = (st.st_mtime_ns, st.st_size)
    last = _last_read.get(self.archive)
    if last is not None and last[0] == key:
        self._files = last[1]
        return
    _original_invalidate_caches(self)
    # a failed read leaves nothing in the cache: record only a good one
    if zipimport._zip_directory_cache.get(self.archive) is self._files:
        _last_read[self.archive] = (key, self._files)


def main() -> None:
    import importlib

    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    # read each archive once here, so forked workers start with records
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # run the package's copy of this module, not ``__main__``, so the
    # installed wrapper is wrf_to_geodataframe_spark.worker_daemon's own
    from wrf_to_geodataframe_spark.worker_daemon import main as _main

    _main()
