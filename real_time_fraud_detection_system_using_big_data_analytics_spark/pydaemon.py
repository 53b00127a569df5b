"""Spark's Python worker daemon, without the per-task re-read of Spark's
own archives.

Before every task a Python worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython < 3.13 that makes
each ``zipimporter`` re-parse its whole archive directory in pure Python:
``pyspark.zip``, the py4j zip and the spark-core jar, about 0.2 CPU-s per
task on a 4-core host. Those archives are on the daemon's start-up
``sys.path`` and do not change while it lives, so their importers keep
their directories; an archive added later (``addPyFile``) is still
re-read. CPython 3.13 invalidates lazily, so there the module changes
nothing. Workers fork from this daemon and inherit the change.
``session.get_session`` selects it through ``spark.python.daemon.module``.
"""

import os
import sys
import zipimport

from pyspark import daemon

if sys.version_info < (3, 13):
    _startup_archives = frozenset(p for p in sys.path if os.path.isfile(p))
    _invalidate_caches = zipimport.zipimporter.invalidate_caches

    def _keep_startup_archives(self):
        if self.archive not in _startup_archives:
            _invalidate_caches(self)

    zipimport.zipimporter.invalidate_caches = _keep_startup_archives

if __name__ == "__main__":
    daemon.manager()
