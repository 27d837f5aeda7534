"""Python-worker daemon: ``pyspark.daemon`` with Spark's own archives indexed once.

Selected by ``spark.python.daemon.module`` (``session.spark_conf_pairs``).
Spark forks every Python worker from this process.

Why it exists: at the start of EVERY task a PySpark worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``) so that files shipped with ``addPyFile`` become
importable. On Python 3.11 and 3.12 that call makes every ``zipimporter``
re-read its archive's central directory. Workers import pyspark from
``pyspark.zip`` (1,328 entries, one importer per imported package: 13 of
them) and also have the spark-core jar on ``sys.path``, so each task
re-parsed ~15 archive indexes before running the UDF: 0.27 s per task,
timed inside a worker, against 36 ms for the 225k-key probe gather itself.

The archives on ``sys.path`` when the daemon starts (pyspark.zip, the py4j
zip, the jar, a shipped ``sparkfuse.zip``) do not change while the
application runs, so their importers keep the index they read once. Any
other archive (a zip added later with ``addPyFile``) keeps the stock
re-read. Python 3.13 made the re-read lazy upstream; there the daemon is
plain ``pyspark.daemon``.
"""

from __future__ import annotations

import os
import sys
import zipimport


def keep_startup_archive_indexes() -> None:
    """Make ``zipimporter.invalidate_caches`` a no-op for the archives on
    ``sys.path`` now (compared as resolved paths); stock for all others."""
    if sys.version_info >= (3, 13):
        return
    startup = frozenset(os.path.realpath(p) for p in sys.path if os.path.isfile(p))
    stock = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        if os.path.realpath(self.archive) not in startup:
            stock(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    keep_startup_archive_indexes()
    from pyspark.daemon import manager

    manager()
