"""PySpark daemon for the engine's Python workers: the stock
``pyspark.daemon`` minus one per-task import cost.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. CPython 3.11's zipimport
answers that by re-reading the central directory of the
archive once for EVERY ``zipimporter`` the worker holds -- one per
package directory imported from ``pyspark.zip`` -- although nothing
changed since the previous task. With Spark 4.1.2's 1,328-entry
``pyspark.zip`` that is about 0.2 CPU-s per task on a 4-core x86 host,
close to half of a small cascade's CPU.

Running this module as the daemon (``spark.python.daemon.module``, set
by ``session.get_spark``) wraps ``zipimporter.invalidate_caches``: the
stock re-read runs only when the archive's ``(st_mtime_ns, st_size,
st_ino)`` differs from the stamp of the directory last read, so a
changed or replaced archive is still re-read. The daemon installs the
wrapper and reads each archive once before it hands over to the
unchanged ``pyspark.daemon.manager()``; every worker it forks inherits
both, whatever it runs (mapInArrow, mapInPandas, RDD functions).

The daemon's memory counts against every run and it reports its port
on stdout, so this module imports nothing heavy and prints nothing. On
the workers it must be importable like any engine function the tasks
unpickle.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (stamp, directory dict) of the last stock re-read
_last_read: dict = {}


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while the
    archive on disk is the one last read. All importers of one archive
    share that read through zipimport's directory cache."""
    archive = self.archive
    stamp = _stamp(archive)  # taken before the read: a write racing it forces the next one
    files = zipimport._zip_directory_cache.get(archive)
    last = _last_read.get(archive)
    if stamp is not None and last is not None and last[0] == stamp \
            and last[1] is files:
        self._files = files
        return
    _stock_invalidate_caches(self)
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and files is not None:
        _last_read[archive] = (stamp, files)
    else:
        _last_read.pop(archive, None)


def main() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    from pyspark.daemon import manager

    importlib.invalidate_caches()  # one read per archive, inherited by every fork
    manager()


if __name__ == "__main__":
    # run under the module's import name, so a worker that imports
    # miaplpy_spark.worker_daemon sees the installed wrapper itself
    from miaplpy_spark.worker_daemon import main as _main

    _main()
