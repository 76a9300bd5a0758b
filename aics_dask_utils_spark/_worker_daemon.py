"""PySpark's Python worker daemon, minus a per-task zip directory re-read.

Before every task PySpark calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython <= 3.12 that
makes every ``zipimporter`` re-parse its archive's whole central
directory, in pure Python. The JVM puts ``pyspark.zip``, the py4j zip
and the spark-core jar first on the worker path, and workers import
pyspark from the zip, so each task re-reads ~25k entries (~0.23 s)
before the user function starts. CPython 3.13 reads lazily
(``zipimporter._get_files``) and needs none of this.

:func:`install` guards ``zipimporter.invalidate_caches`` by the
archive's ``(st_mtime_ns, st_size, st_ino)``: unchanged since this
process last read it, the importer reuses the cached directory; changed,
missing or never read here, it takes the stock path. :func:`main` runs
under ``spark.python.daemon.module`` (set by
:func:`aics_dask_utils_spark.session.get_spark` for local masters): it
installs the guard, reads each archive once, then hands over to
``pyspark.daemon.manager()``, whose forked workers inherit both.
"""

from __future__ import annotations

import importlib
import os
import zipimport

#: Stock directory reads the guard has fallen back to in this process.
rereads = 0
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Stat-guard ``zipimporter.invalidate_caches``; a no-op where the
    importer is already lazy or already guarded."""
    cls = zipimport.zipimporter
    stock = cls.invalidate_caches
    if hasattr(cls, "_get_files") or stock.__module__ == __name__:
        return

    def invalidate_caches(self):
        global rereads
        stamp = _stamp(self.archive)  # taken before any read: a rewrite during it reads again
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
            self._files = files
            return
        rereads += 1
        stock(self)
        _stamps[self.archive] = stamp

    cls.invalidate_caches = invalidate_caches


def main() -> None:
    global rereads
    install()
    importlib.invalidate_caches()  # read and stamp each archive once, before workers fork
    rereads = 0  # so a worker counts only its own re-reads
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # Run the importable module, not this ``__main__`` copy, so tasks
    # that import it see the daemon's state.
    importlib.import_module("aics_dask_utils_spark._worker_daemon").main()
