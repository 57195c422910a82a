"""Python worker entry for sessions built by ``python_rasterstats_spark``.

``get_spark`` points ``spark.python.worker.module`` here on local masters.
PySpark's daemon imports a worker module only if its name starts with
``pyspark``, hence a top-level module next to the package.

Stock ``pyspark.worker`` calls ``importlib.invalidate_caches()`` at the
start of every task. On CPython 3.11 that makes each zipimporter re-read
its archive's whole directory: every ``pyspark.zip`` importer re-reads
1,328 entries per task, which was most of a Python task's fixed cost.
This module makes a zipimporter re-read its archive only when the file's
``(st_ino, st_size, st_mtime_ns)`` differs from its last read, or when the
file cannot be stat'ed. Every other finder is invalidated as before, and a
new ``addPyFile`` archive gets a new importer that reads it as usual, so
the only work skipped is a re-read that would return the same directory.
"""

import os
import zipimport

from pyspark.worker import main  # noqa: F401  (the daemon calls main)

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        key = None
    if key is not None and key == getattr(self, "_prs_read_key", None):
        return
    self._prs_read_key = key
    _stock_invalidate_caches(self)


zipimport.zipimporter.invalidate_caches = _invalidate_caches
