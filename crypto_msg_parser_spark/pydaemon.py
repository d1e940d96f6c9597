"""The session's Python daemon: pyspark's own daemon, minus the re-read of
every zip archive on ``sys.path`` before each task.

Before each task a worker runs ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. Before Python 3.12 that makes
every ``zipimport.zipimporter`` re-read its archive's central directory at
once. The workers import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``
(~27k entries) through ~16 importers, so a warm, reused worker spent
0.18-0.27 CPU s per task on it (4-core host, cProfile inside the worker)
against ~1 ms in the user function. Python 3.12 made the re-read lazy.

``install`` replaces ``zipimporter.invalidate_caches`` with one that re-reads
an archive only when the file changed on disk. ``session.get_spark`` selects
this module with ``spark.python.daemon.module``; Spark runs it as
``python -m crypto_msg_parser_spark.pydaemon``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_read = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive only if it changed on disk since this process
    last read it; otherwise share the directory read then."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _read(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Patch zipimport in this process; from Python 3.12 it is left alone."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    install()
    from pyspark import daemon

    # read each archive here once, so the forked workers inherit its stamp
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # run the imported module, so what install() patches in is named after
    # this module, not __main__
    from crypto_msg_parser_spark.pydaemon import main as _main

    _main()
