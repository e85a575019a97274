"""Python worker daemon: pyspark's stock daemon with archive-aware
import-cache invalidation.

pyspark's worker calls ``importlib.invalidate_caches()`` once per task
(``pyspark.worker_util.setup_spark_files``) so that files added with
``addPyFile`` become importable. On CPython 3.11 that call makes every
``zipimporter`` on ``sys.path`` re-read its archive's whole central
directory. A worker holds 16 of them: 12 on ``pyspark.zip`` (~1,300
entries), 2 on the py4j zip and 2 on the spark-core jar that Spark puts
on the worker ``PYTHONPATH`` (~5,400 entries). One call measured
110-220 ms inside a worker on a 4-vCPU host, paid by every Python task.

Here a zipimporter re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from what that instance last read, so
an archive that changes on disk is still re-read, as CPython does. The
stamp lives on the instance, not in a table keyed by path: two
importers on one archive each track what they themselves hold. Every
other finder is still invalidated on every task, so new ``addPyFile``
zips and ``SparkFiles`` stay visible.

Run as ``python -m fink_science_spark.pydaemon`` (Spark's
``spark.python.daemon.module``): only then is the method replaced, and
workers fork from the daemon and inherit it. Importing the module has
no side effect. Imports only the stdlib and ``pyspark.daemon``.
"""

from __future__ import annotations

import os
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive unless it is unchanged since this importer's
    last read. The stat comes first, so a rewrite that lands during the
    read leaves a stale stamp and is caught by the next call."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is not None and getattr(self, "_archive_stamp", None) == stamp:
        return
    _read_archive(self)
    self._archive_stamp = stamp


if __name__ == "__main__":
    import importlib

    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    # stamp the importers the daemon already holds, so forked workers
    # start with stamps and skip the re-read on their first task too
    importlib.invalidate_caches()
    manager()
