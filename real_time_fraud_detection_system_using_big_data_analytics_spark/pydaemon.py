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

Before it forks its first worker the daemon also imports ``pandas``,
``pyarrow`` and ``pyspark.sql.pandas.serializers``, then calls
``gc.freeze()``. After every task ``pyspark.daemon`` runs a full
``gc.collect()`` in the worker. When each worker imports the pandas stack
itself, that collection walks every object of it again: 12-16 ms per
task on a 4-core host for a worker that has run one pandas task, more
once a stateful replay has grown its heap. Frozen objects sit in the
permanent generation, which no collection visits; with the freeze, the
same worker reported ~73k frozen objects and the collection took under
0.5 ms. This is the pre-fork pattern of CPython's ``gc.freeze``
documentation, and the workers share the modules' pages with the daemon
until they write to them. A module that fails to import is skipped: the
worker then imports it itself, or fails as it would without this daemon.
"""

import gc
import importlib
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
    for name in ("pandas", "pyarrow", "pyspark.sql.pandas.serializers"):
        try:
            importlib.import_module(name)
        except ImportError:
            pass
    gc.freeze()
    daemon.manager()
