"""Explicit partitioning: skew salting and scan spread.

The reference's physical layout doctrine is TimescaleDB's: hash-partition by
entity, range-chunk by time (``aisdb/aisdb_sql/timescale_createtable_
dynamic.sql:16-22``: 4 mmsi-hash partitions × 7-day chunks), plus
memory-adaptive ingest parallelism (``src/lib.rs:154-181``). Spark-first
equivalents:

- ``with_salt``: hot conversations (the skew axis — FIXTURES.md plants a
  100× conversation) get a salt column derived from ``turn_idx`` so a
  single entity spreads over ``salt_buckets`` tasks. Salted aggregation
  must be algebraic: partial-aggregate per (conv, salt), then merge — the
  rollup measures (count/sum/min/max + boundary-ordered first/last) all
  compose this way.
- ``spread_scan``: a small input that scans as fewer partitions than
  cores is hash-spread on its key before per-row expression or Python
  work, so that work does not run single-threaded.

At 100 TB: AQE (`skewJoin`, `coalescePartitions` — enabled in
``session.py``) covers join/shuffle skew at runtime; salting covers the
one case AQE cannot fix — a single oversized *group* feeding a per-group
aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, salt_buckets: int = 16, chunk_rows: int = 10_000) -> DataFrame:
    """Append a deterministic ``salt`` column: turn ranges of ``chunk_rows``
    map to the same salt, so salted partial aggregates stay contiguous in
    time (first/last still composable by (salt-ordered) boundaries)."""
    return df.withColumn(
        "salt",
        (F.floor(F.col("turn_idx") / F.lit(chunk_rows)) % F.lit(salt_buckets)).cast(
            "int"
        ),
    )


def spread_scan(df: DataFrame, key: str) -> DataFrame:
    """Scale-adaptive scan spread for per-row work that is heavy next to
    the scan. A small corpus arrives as one parquet row group, so one scan
    task, and every expression or Python kernel downstream runs
    single-threaded (measured: the whole LSH signature pass on 1 core at
    sf0.1). When the scan has fewer partitions than cores, hash-repartition
    on ``key`` (deterministic, balanced); a large corpus already scans in
    many splits and takes no shuffle at all."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, key)
    return df
