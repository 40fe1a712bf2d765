"""Stat-guarded zip directory cache for PySpark Python workers.

Every task a PySpark Python worker runs starts in
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``.  On CPython 3.11 that makes every
cached ``zipimport.zipimporter`` re-parse its archive's whole central
directory in pure Python: the 17 importers, mostly over ``pyspark.zip``
(1328 entries) and the spark-core jar (5359 entries), cost 0.12-0.24 s
of CPU per task (PySpark 4.1.2, one core of a 4-core host) before a UDF
sees a row.  The archives do not change between tasks, so the re-read is
skipped while the archive's ``(st_ino, st_size, st_mtime_ns)`` equals
what the same importer saw when it last read it.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive
    directory only on an importer's first call and whenever the archive
    is changed or missing."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _reread(self)
        self._archive_stamp = stamp


def guard_worker_zip_caches() -> None:
    """Install the guard when this process is a PySpark Python worker
    (``setup_spark_files`` has marked ``SparkFiles`` as running on a
    worker); a no-op in the driver.  Called once, from the package
    ``__init__``."""
    files = sys.modules.get("pyspark.core.files")
    if files is not None and files.SparkFiles._is_running_on_worker:
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
