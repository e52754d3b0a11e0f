"""PySpark worker daemon that stops each task from re-reading pyspark.zip.

`get_spark` sets ``spark.python.daemon.module`` to this module, so Spark
starts it (``python -m gdal_spark.pydaemon``) in place of
``pyspark.daemon``; every Python worker is a fork of it.

Before each task PySpark calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py`` ``setup_spark_files``). On CPython < 3.13 that
makes every zipimporter re-read its archive's whole directory at once:
one read of ``pyspark.zip`` (15.7 MB, 1,328 entries) per zip-backed package
path the worker has imported, about 12-20 per task. 3.13 defers the read
to the next lookup. Here the daemon replaces the method with one that
re-reads an archive only when its (mtime, size) differs from the last
read in this process, then hands over to ``pyspark.daemon.manager``.
Importing the module patches nothing.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def stamped_invalidate():
    """A ``zipimporter.invalidate_caches`` that reads each archive's
    directory once per change of its (st_mtime_ns, st_size)."""
    read = zipimport.zipimporter.invalidate_caches
    stamps = {}  # archive -> (st_mtime_ns, st_size) at its last read

    def invalidate_if_changed(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is None or stamps.get(self.archive) != stamp or files is None:
            read(self)
            stamps[self.archive] = stamp
        else:
            self._files = files  # another importer of the archive read it

    return invalidate_if_changed


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = stamped_invalidate()
    from pyspark import daemon

    importlib.invalidate_caches()  # one read per archive, before the forks
    daemon.manager()
