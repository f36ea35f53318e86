"""Python worker daemon for sessions built by ``session.get_spark``.

Spark forks every Python worker (RDD closures, pandas UDFs,
``mapInPandas``, Arrow batches) from a daemon, by default
``pyspark.daemon``. At the start of every task a worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``
``setup_spark_files``). On CPython < 3.13 that makes every
``zipimport.zipimporter`` re-read its archive's central directory at once,
and each package a worker imported from ``pyspark.zip`` (1,328 entries)
has its own importer: 14 of them once ``pyspark.worker`` is imported,
more as tasks import more. One such call took 0.12-0.21 s on a 4-core
host, paid by every task. Python 3.13 made the re-read lazy.

This daemon turns that re-read into a no-op, then runs pyspark's own
daemon; forked workers inherit the change. Nothing rewrites
``pyspark.zip`` or py4j's zip while a worker lives, and a zip shipped
later with ``addPyFile`` has a new path, so a fresh importer reads its
directory on first use. Path-entry (``FileFinder``) invalidation is left
alone, so ``.py`` files shipped with ``addPyFile`` still import.
"""

import sys
import zipimport

from pyspark import daemon


def main() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = lambda self: None
    daemon.manager()


if __name__ == "__main__":
    main()
