"""The engine's PySpark worker daemon: ``pyspark.daemon`` without the
per-task re-read of Spark's own archives.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), so that files landing in the
task's SparkFiles directory become importable. On CPython 3.11 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-parse its archive's
whole directory in pure Python. A worker holds one importer per imported
sub-package of ``pyspark.zip`` (1328 entries, ~11 ms per re-read, 11-12
importers) and two on the spark-core jar that Spark puts on the worker path
(5359 entries, 33-47 ms each): ~0.2 s of CPU per task on a 4-vCPU host.

Those archives never change while a worker lives. So the daemon leaves the
importers of every archive that was on ``sys.path`` when it started out of
the invalidation (pyspark.zip, the py4j zip, the spark-core jar, a shipped
engine zip) and hands everything else to the stock function: FileFinders,
zips that ``addPyFile`` ships later, the pruning of relative paths and the
namespace-path epoch behave as in stock Python.

Spark runs it as ``python -m scrubah_pii_spark.pyworker``
(``session.PYTHON_DAEMON_MODULE``). Importing the module patches nothing.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def hold_out(invalidate, archives: frozenset):
    """invalidate, with the zipimporters of `archives` (archive paths) left
    out: they are taken from sys.path_importer_cache for the call and put
    back after it."""

    def invalidate_caches():
        cache = sys.path_importer_cache
        held = {
            path: finder for path, finder in cache.items()
            if isinstance(finder, zipimport.zipimporter)
            and finder.archive in archives
        }
        for path in held:
            del cache[path]
        try:
            invalidate()
        finally:
            cache.update(held)

    return invalidate_caches


def main() -> None:
    # absolute entries only: the stock call drops the importers of relative
    # paths, and holding one out would keep it
    archives = frozenset(p for p in sys.path if os.path.isabs(p))
    importlib.invalidate_caches = hold_out(importlib.invalidate_caches, archives)
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
