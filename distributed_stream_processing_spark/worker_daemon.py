"""PySpark worker daemon whose zip importers re-read an archive only
when it changed.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark/worker_util.py`` ``setup_spark_files``). Workers import
pyspark from ``pyspark.zip``, which leaves one ``zipimporter`` per
imported pyspark subpackage in ``sys.path_importer_cache``, and
CPython's ``zipimporter.invalidate_caches`` re-reads the archive's whole
central directory every time. This daemon makes that re-read
conditional on the archive's ``(st_mtime_ns, st_size)`` and then runs
``pyspark.daemon.manager()``; forked workers inherit the patch. A zip
rewritten in place is still re-read, and a file shipped with
``addPyFile`` lands on a new path (a new importer) anyway.

Run as ``spark.python.daemon.module`` (``session.get_spark`` sets it).
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """Re-read the archive's directory only if its stamp changed since
    this importer last read it (the first call always reads)."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    import pyspark.daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # stamp the importers pyspark's own import left, so forked workers
    # start with nothing to re-read
    importlib.invalidate_caches()
    pyspark.daemon.manager()
