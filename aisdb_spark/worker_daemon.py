"""Python worker daemon that makes a worker task pay only for its kernel.

Every Python-boundary stage here hands batches to numpy/pandas/pyarrow
kernels (guide §4.2). With the stock ``pyspark.daemon`` a worker task
pays three fixed costs that have nothing to do with the kernel:

1. **Imports.** Each forked worker imports numpy/pandas/pyarrow, the
   PySpark worker and the kernel modules from scratch: N workers × ~1 s,
   paid by the first Python stage. Importing them here, BEFORE the daemon
   forks, lets every worker inherit them copy-on-write.
2. **Zip re-reads.** ``pyspark.worker_util.setup_spark_files`` calls
   ``importlib.invalidate_caches()`` on every task, and on CPython 3.11
   every ``zipimporter`` in ``sys.path_importer_cache`` then re-reads its
   archive's whole central directory. A warm worker holds 16 of them:
   ``pyspark.zip`` (1,328 entries) and its package dirs, the py4j zip,
   and ``spark-core_2.13-*.jar`` (5,359 entries), which Spark puts on
   the workers' ``PYTHONPATH``. Profiled (cProfile in the workers), that
   was 7.8 s of 8.6 s of worker CPU over an 8-task stage. Once everything
   the workers need is imported, this module drops the archives from
   ``sys.path`` and their importers from the cache, so a task's
   invalidation has nothing to re-read.
3. **Post-task GC.** After each task the forked child runs
   ``gc.collect()``, which walks — and so copy-on-writes — the ~74k
   objects preloaded here: ~35 ms per task. ``gc.freeze()`` just before
   ``manager()`` moves them to the permanent generation, which no
   collection walks.

Measured at 4 cores: Python-worker CPU per ``gorilla_metrics`` execution
1.9-2.1 → 0.08-0.11 CPU-s.

Dropping the archives is safe: modules already imported keep their
loaders and ``__path__``, so a later submodule import from an archive
still works (it only pays the re-read again), and ``--py-files``
archives are re-added to ``sys.path`` by ``setup_spark_files`` on every
task.

Wired via ``spark.python.daemon.module`` in session.get_spark. The
imports are best-effort: a worker environment without pandas still forks
a functional daemon and pays the per-worker import exactly as before.
Cluster note: this module ships with the package (``--py-files``), so
the same setup applies per executor.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

try:  # best-effort preload — absence only costs the old per-worker import
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    # Kernel-bearing modules are pickled BY REFERENCE into Python stages
    # (they are importable module-level functions), so every worker
    # imports them — and through them pyspark.sql and the package graph
    # — on first use. Import them once here instead. codec imports the
    # per-entity route (plans.per_entity) at module level, so every
    # per-conversation kernel's batch loop is preloaded with it.
    import aisdb_spark.multimodal  # noqa: F401
    import aisdb_spark.operators.asof  # noqa: F401
    import aisdb_spark.operators.codec  # noqa: F401
    import aisdb_spark.operators.downsample  # noqa: F401
    import aisdb_spark.operators.encoder  # noqa: F401
    import aisdb_spark.operators.interp  # noqa: F401
    import aisdb_spark.streaming.stateful  # noqa: F401
except Exception:  # pragma: no cover - degraded environments
    pass

import pyspark.worker  # noqa: F401
from pyspark.daemon import manager

if __name__ == "__main__":
    # Everything the workers need is imported: drop the zip/jar archives
    # so each task's importlib.invalidate_caches() has nothing to re-read.
    sys.path[:] = [p for p in sys.path if not p or os.path.isdir(p)]
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[key]
    gc.freeze()
    manager()
