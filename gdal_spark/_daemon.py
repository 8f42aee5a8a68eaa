"""PySpark fork server whose workers re-read a zip on ``sys.path`` only
when the file has changed.

PySpark's worker calls ``importlib.invalidate_caches()`` once per task
(``setup_spark_files`` in ``pyspark/worker_util.py``).  In CPython 3.11
that makes every ``zipimporter`` re-read its archive's whole central
directory; the ~16 importers on a worker's path (package paths inside
``pyspark.zip``, ``py4j-*.zip`` and the spark-core jar) cost 150-290 ms a
task, far more than a small pandas UDF.  Here an importer re-reads its
archive only when the archive's ``(st_mtime_ns, st_size)`` differs from
the one seen at its last read: the test CPython itself uses for stale
``.pyc`` files.  A rewritten ``--py-files`` archive is re-read, a missing
one is dropped as before, and path finders that are not zip archives are
invalidated as before.

``python -m gdal_spark._daemon`` installs the guard, primes it once and
runs ``pyspark.daemon.manager()``; every forked worker inherits both.
``session.get_spark`` sets it as ``spark.python.daemon.module`` for local
masters.  Importing this module changes nothing.
"""

import os
import zipimport

_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken before its last read; per
# process and per archive, like zipimport's own _zip_directory_cache
_read_stamp = {}


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _read_stamp.get(self.archive) != stamp:
        _invalidate(self)
        _read_stamp[self.archive] = stamp
    else:
        # another importer of the same archive may have re-read it
        self._files = files


invalidate_caches.stat_guard = True


if __name__ == "__main__":
    import importlib

    import pyspark.daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()
    pyspark.daemon.manager()
