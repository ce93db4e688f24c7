"""SparkSession factory tuned for the transcript time-series workload.

Local-mode testing runs on ``local[N]``; the same config block is what a
1000-executor cluster deployment would submit via ``spark-submit --py-files``
(only master/memory change). Key choices, each load-bearing at 100 TB:

- AQE on (runtime coalesce + skew-join splitting) — hot conversations are the
  skew axis; AISdb's analog is memory-adaptive worker sizing
  (``src/lib.rs:154-181``).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster
  AQE's coalesce makes the initial number mostly a ceiling.
- Arrow enabled: every Python-side operator here is a vectorized
  Arrow UDF (``mapInArrow``, ``mapInPandas``; ``applyInPandasWithState``
  for streaming EWMA) — never per-row Python.
- Session timezone pinned UTC so windowed rollups and the DuckDB oracle
  (UTC-naive timestamps) agree byte-for-byte.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One shuffle partition per core locally; a cluster run would set this to
# 2-3x total executor cores and let AQE coalesce. 100 TB note: with
# 128 MB targets AQE picks the real number; this is just the pre-AQE ceiling.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_mem() -> str:
    """Driver heap: ``$SPARK_GRAFT_DRIVER_MEM``, else a quarter of physical
    memory capped at 24g (floor 1g). A fixed 24g on a 16 GB machine let the
    local-mode JVM grow until the kernel's OOM killer ended it; a quarter
    leaves room for the Python workers, the page cache and tmpfs scratch."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    except (AttributeError, OSError, ValueError):  # platform without sysconf
        return "4g"
    return f"{min(max(phys_mb // 4, 1024), 24 * 1024)}m"


def get_spark(
    app_name: str = "transcript-timeseries",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    ``cpus`` controls local parallelism (the N in ``local[N]``).
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Floor for AQE's post-shuffle coalescing. The 1 MB default sizes
        # partitions for JVM batch work, which collapses every sub-MB
        # shuffle (window functions, small aggregations) to ONE partition
        # and serializes the stage; 256k keeps core-level parallelism for
        # those (measured: 27% off a window-heavy query set at sf0.1, 64k
        # is already worse again from task overhead). Inert at scale: the
        # knob only affects shuffles small enough to coalesce below 1 MB —
        # 100 MB-1 GB partitions (guide §2.2) never touch this floor.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet timestamps read as TIMESTAMP_LTZ (session tz = UTC), not
        # NTZ — keeps unix_micros/window functions applicable and matches
        # DuckDB's UTC-naive values bit-for-bit under the pinned UTC zone.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.timestampType", "TIMESTAMP_LTZ")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Shuffle/spill scratch on tmpfs: the sandbox's /tmp is a virtual
        # disk and 32 concurrent task writers thrash it (measured: local[32]
        # intermittently slower than local[8]). On a real cluster this is
        # the usual local-SSD scratch volume.
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"),
        )
        # The worker daemon (aisdb_spark/worker_daemon.py) imports the
        # kernel stack once before it forks, then removes both per-task
        # costs of the stock daemon: the zip/jar importers whose archives
        # every task's invalidate_caches() re-read (dropped), and the
        # post-task gc.collect() over the preloaded heap (gc.freeze()).
        # Measured at 4 cores: worker CPU per gorilla_metrics execution
        # 1.9-2.1 → 0.08-0.11 CPU-s.
        .config("spark.python.daemon.module", "aisdb_spark.worker_daemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
