"""Python worker daemon: ``pyspark.daemon`` with a stat-checked zip cache.

``session.default_configs()`` names this module as
``spark.python.daemon.module``. PySpark calls ``importlib.invalidate_caches()``
at the start of every task (``worker_util.setup_spark_files``). On Python
3.11 each ``zipimporter`` then re-reads its whole zip directory in pure
Python; pyspark is imported from ``pyspark.zip``, so that is one read per
imported subpackage, 16 per task. CPython 3.12 fixed this upstream
(gh-103200).
"""

import importlib
import os
import sys
import zipimport


def install_zip_stamps() -> None:
    """Before Python 3.12, make a zipimporter stat its archive on
    invalidation and re-read the directory only when ``(st_mtime_ns,
    st_size)`` differs from its last read; importers of one archive share
    that read."""
    if sys.version_info >= (3, 12):
        return
    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int]] = {}

    def invalidate_if_changed(self: zipimport.zipimporter) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is None or stamps.get(self.archive) != stamp:
            reread(self)  # stamped before the read: a change during it reads again
            stamps[self.archive] = stamp
        else:
            self._files = files

    zipimport.zipimporter.invalidate_caches = invalidate_if_changed


if __name__ == "__main__":
    install_zip_stamps()
    from pyspark.daemon import manager

    # One read per archive before the fork, so a worker's first task reads none.
    importlib.invalidate_caches()
    manager()
