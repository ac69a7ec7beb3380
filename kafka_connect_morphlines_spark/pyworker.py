"""Spark's Python worker daemon, minus the per-task re-read of unchanged zip
archives.

Before every task, ``pyspark.worker`` runs ``setup_spark_files``, which ends
in ``importlib.invalidate_caches()``.  On CPython 3.11 and 3.12 that makes
every ``zipimporter`` re-read its archive's whole central directory.  A
worker holds one importer per package it imported from ``pyspark.zip``
(16 of them, each re-reading all 1,328 entries): a median 0.25 s per task
on a 4-core host, before the UDF starts.

This module wraps ``zipimport.zipimporter.invalidate_caches``: an importer
re-reads its archive only when the archive's ``(st_ino, st_size,
st_mtime_ns)`` stamp differs from the one recorded at that importer's last
read through the wrapper.  A rewritten archive is still re-read, and a
module added to it becomes importable; if the stat fails, the original
method runs.  The daemon then reads and stamps every archive once, before
it forks a worker, and runs ``pyspark.daemon.manager()`` unchanged.
Workers keep importing pyspark from the same zip.

CPython 3.13's ``zipimport`` already makes ``invalidate_caches`` lazy (it
only drops the cached directory); the wrapper is harmless there.

``session.get_spark`` selects this module as ``spark.python.daemon.module``
for ``local`` masters only: that is the one case where its ``PYTHONPATH``
edit reaches the workers.  A cluster whose executors have the package
installed may set the same conf.  Running it as ``python -m`` also runs the
package ``__init__`` in the daemon.  It imports pyspark.sql and numpy,
which ``pyspark.worker`` imports anyway (~0.01 s more on top of it), but
neither pandas nor pyarrow, and it starts no thread of its own.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_STAMP = "_archive_stamp"
_original = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        self.__dict__.pop(_STAMP, None)
        return _original(self)
    # Stat before the read: an archive rewritten in between reads as
    # changed at the next call, never as unchanged.
    stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    if self.__dict__.get(_STAMP) != stamp:
        _original(self)
        self.__dict__[_STAMP] = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    import pyspark.daemon  # imports the worker module named by sys.argv[1]

    importlib.invalidate_caches()  # read and stamp each archive once, pre-fork
    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
