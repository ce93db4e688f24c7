"""Resumable tiered materialization with per-tier lineage + metrics.

AISdb's resumability is a file-checksum ledger: md5 of each input file is
recorded in a ``hashmap`` table and already-ingested files are skipped
(``aisdb/database/decoder.py:21-116``, ``:199-259``). The Spark-first analog
is snapshot-fingerprint checkpointing: each retention tier directory carries
a manifest recording the input fingerprint that produced it; a re-run with
the same fingerprint skips the tier (idempotent), a changed fingerprint
rebuilds it. Writes are full-directory atomic-ish overwrites (parquet,
day-partitioned) — never appends — so a killed run resumes to *identical*
output (SURVEY.md §7 hard-point (c): overwrite-by-partition, no
double-counting). With an Iceberg catalog on the cluster, the manifest
becomes the snapshot id and the overwrite becomes
``overwritePartitions()`` — same contract, catalog-managed.

Metrics: per tier the manifest records rows, bytes, files, and wall seconds
— the lineage + throughput surface the north rule requires (decode-rate
precedent: ``aisdb_lib/src/decode.rs:228-257``).

Round 5: tier base dirs may be URI-addressed (file://, hdfs://, s3a://) —
manifest IO and the bytes walk ride the Hadoop FileSystem client via
``streaming.fsio`` (single recursive listFiles stream, no per-directory
RPCs); plain local paths keep the ``os`` fast path.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aisdb_spark.operators import rollup

MANIFEST = "_tier_manifest.json"


def input_fingerprint(df: DataFrame) -> dict:
    """Cheap deterministic fingerprint of the tier input: row count + ts
    range + value checksum (all integer-exact). The Iceberg-snapshot-id
    analog for plain parquet."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("ts").alias("lo"),
        F.max("ts").alias("hi"),
        F.sum("value").alias("chk"),
    ).collect()[0]
    return {
        "rows": row["n"],
        "ts_min": str(row["lo"]),
        "ts_max": str(row["hi"]),
        "value_checksum": int(row["chk"]) if row["chk"] is not None else 0,
    }


def _fingerprint_days(fingerprint: dict) -> int:
    """Distinct-day estimate from the input fingerprint's ts range."""
    try:
        lo = fingerprint["ts_min"][:10]
        hi = fingerprint["ts_max"][:10]
        import datetime as _dt

        d0 = _dt.date.fromisoformat(lo)
        d1 = _dt.date.fromisoformat(hi)
        return max((d1 - d0).days + 1, 1)
    except (KeyError, ValueError, TypeError):
        return 1


def _read_manifest(tier_dir: str) -> dict | None:
    from aisdb_spark.streaming import fsio

    spark = fsio.session_for(tier_dir)
    if spark is not None:
        return fsio.read_side_json(spark, tier_dir, MANIFEST)
    try:
        with open(os.path.join(tier_dir, MANIFEST)) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None


def write_tier(
    df: DataFrame,
    tier_dir: str,
    fingerprint: dict,
    partition_by_day: bool = True,
    files_per_date: int = 1,
) -> dict:
    """Materialize one tier: day-partitioned zstd parquet + manifest.

    Day partitioning mirrors the reference's monthly-table / 7-day-chunk
    range layout (``aisdb/database/sqlfcn_callbacks.py:17-20``) — time-range
    queries on the tier prune whole directories.

    Output is re-clustered on (bucket_date, hash(conv_id) % files_per_date)
    before the partitioned write: without this, every shuffle partition
    writes a sliver into every date directory — file count (and write+read
    cost) grows ∝ parallelism × dates, which inverted the N→4N scaling run
    (24.8 s vs 14.5 s at sf0.1×20). With it, file count is dates ×
    files_per_date regardless of parallelism — the Iceberg
    ``bucket(conv_id)`` layout expressed in plain parquet.
    """
    from pyspark.sql import Observation

    t0 = time.monotonic()
    # row count observed ON the write job itself — replaces the read-back
    # count() that cost one extra job (and one full tier scan) per tier
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    if partition_by_day:
        # Pin the partition count: an un-numbered repartition lets AQE
        # coalesce the write to a few ~64MB tasks, serializing the write
        # stage identically at every parallelism level (measured: 25s at
        # both local[8] and local[32]). k (files per date) is SIZE-derived
        # (guide §6 output file sizing): one file per ~1M tier rows per
        # date, floored at ``files_per_date``. Small tiers write
        # dates×1 files (commit cost ∝ file count — a 10k-row tier wrote
        # 2.5x faster at k=1 than at the old parallelism-derived k=3 on
        # this box's /tmp); big tiers grow k with the data, which also
        # yields ≥cores write tasks exactly when there is enough data for
        # parallelism to matter. File count stays parallelism-INDEPENDENT
        # either way (the round-5 N→4N requirement). The input row count
        # from the fingerprint upper-bounds the tier's rows.
        n_dates = _fingerprint_days(fingerprint)
        rows_bound = int(fingerprint.get("rows", 0) or 0)
        # desired write tasks from data size (~250k rows/task, capped at
        # 2×cores) — keeps big tiers parallel without inflating small
        # tiers' file count (same three-term rule as txn.merge_into_tier)
        desired_tasks = min(
            -(-rows_bound // 250_000),
            2 * df.sparkSession.sparkContext.defaultParallelism,
        )
        k = max(
            files_per_date,
            -(-desired_tasks // max(n_dates, 1)),
            -(-rows_bound // (1_000_000 * max(n_dates, 1))),
        )
        writer = (
            df.withColumn("bucket_date", F.to_date("bucket_start"))
            .repartition(
                max(n_dates, 1) * k,
                F.col("bucket_date"),
                F.pmod(F.hash("conv_id"), F.lit(k)),
            )
        )
        w = writer.write.mode("overwrite").partitionBy("bucket_date")
    else:
        w = df.write.mode("overwrite")
    from aisdb_spark.streaming import fsio

    fsio.gated_write(w).parquet(tier_dir)
    elapsed = time.monotonic() - t0
    spark = df.sparkSession
    out_rows = obs.get["rows"]

    nbytes = sum(
        sz for p, sz in fsio.walk_files(spark, tier_dir) if p.endswith(".parquet")
    )
    manifest = {
        "fingerprint": fingerprint,
        "rows": out_rows,
        "bytes": nbytes,
        "seconds": round(elapsed, 3),
    }
    fsio.write_side_json_atomic(spark, tier_dir, MANIFEST, manifest)
    return manifest


def materialize_cascade(
    spark: SparkSession,
    tv: DataFrame,
    base_dir: str,
    force: bool = False,
) -> dict[str, dict]:
    """Materialize raw→1min→1h→1d, each tier read back from its parquet
    before feeding the next (cuts lineage; each tier computed exactly once).

    Resume semantics: a tier whose manifest fingerprint matches the current
    input is skipped (``"skipped": True`` in the returned metrics). Output
    after kill+rerun is identical to a clean run — integer-exact measures
    plus overwrite (not append) writes guarantee it.
    """
    fp = input_fingerprint(tv)
    results: dict[str, dict] = {}
    upstream = tv
    specs = [("1min", "minute", True), ("1h", "hour", False), ("1d", "day", False)]
    from aisdb_spark.streaming import fsio

    for name, unit, from_raw in specs:
        tier_dir = fsio.join(base_dir, name)
        existing = _read_manifest(tier_dir)
        if not force and existing and existing.get("fingerprint") == fp:
            results[name] = {**existing, "skipped": True}
            upstream = spark.read.parquet(tier_dir).drop("bucket_date")
            continue
        tier_df = (
            rollup.temporal_bin(upstream, unit)
            if from_raw
            else rollup.tier_from_finer(upstream, unit)
        )
        results[name] = write_tier(tier_df, tier_dir, fp)
        upstream = spark.read.parquet(tier_dir).drop("bucket_date")
    return results
