"""The preloading worker daemon leaves a warm Python task no per-task
overhead: no zip/jar importer whose archive ``importlib.invalidate_caches``
would re-read, and the preloaded heap frozen out of the post-task GC."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa

SCHEMA = "zipimporters long, frozen long"


def test_warm_worker_has_no_zipimporter_and_frozen_heap(spark):
    assert spark.conf.get("spark.python.daemon.module") == (
        "aisdb_spark.worker_daemon"
    )

    # Defined inside the test so they pickle by value: the workers cannot
    # import this test module.
    def worker_state() -> dict[str, list[int]]:
        import gc
        import sys
        import zipimport

        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        return {"zipimporters": [zips], "frozen": [gc.get_freeze_count()]}

    def arrow_state(batches):
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(worker_state())

    def pandas_state(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(worker_state())

    one_task = spark.range(0, 16, 1, 1)
    grouped = one_task.selectExpr("0 AS g", "id")
    # Twice each: the second run lands on reused (already warm) workers.
    for _ in range(2):
        for df in (
            one_task.mapInArrow(arrow_state, SCHEMA),
            grouped.groupBy("g").applyInPandas(pandas_state, SCHEMA),
        ):
            rows = df.collect()
            assert rows
            for r in rows:
                assert r.zipimporters == 0
                assert r.frozen > 0
