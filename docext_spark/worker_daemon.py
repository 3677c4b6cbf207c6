"""PySpark's Python worker daemon, with zip archives read once per worker.

At the start of every task PySpark's worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
Before Python 3.13 that makes every ``zipimporter`` re-read its whole
archive directory: pyspark.zip (1,328 entries, one importer per imported
subpackage) and the spark-core jar (5,359 entries) on the workers' path.
That costs 0.15-0.3 s per task on 4 vCPUs, for archives that never change.

This module patches ``zipimport.zipimporter.invalidate_caches`` to re-read
an archive only when its ``(st_mtime_ns, st_size)`` differs from the value
this importer recorded when it last read it, then runs PySpark's own
daemon, so every forked worker inherits the patch. The value is kept per
importer: a changed archive is still re-read by every importer of it.
Python 3.13 makes the stock method lazy, so the patch applies only below it.

``session.get_spark`` selects it with
``spark.python.daemon.module=docext_spark.worker_daemon``. The workers must
be able to import ``docext_spark`` before any task runs, so a spark-submit
job whose package arrives with ``--py-files`` keeps the stock daemon.
"""
from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """Reload the archive's file data when it changed since this importer
    last read it. Taking the stamp before the read means an archive
    replaced during the read is read again on the next call."""
    stamp = _stamp(self.archive)
    if stamp is not None and stamp == getattr(self, "_docext_stamp", None):
        return
    _stock_invalidate_caches(self)
    self._docext_stamp = stamp


def main() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager
    manager()


if __name__ == "__main__":
    # run as ``python -m``, this file is ``__main__``; take main() from the
    # imported module so the patch names docext_spark.worker_daemon
    from docext_spark.worker_daemon import main as _main
    _main()
