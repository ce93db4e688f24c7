"""Tier maintenance: age-based retention + small-file compaction.

The reference manages storage as monthly tables it can DROP wholesale
(``aisdb/database/dbconn.py:147``, ``:467`` — aggregate/monthly table
drops) and targets a TimescaleDB hypertable layout
(``aisdb/aisdb_sql/timescale_createtable_dynamic.sql:16-30``) whose
operational companions are ``drop_chunks`` (retention) and chunk
recompression (compaction). The Spark-first equivalents over the
day-partitioned parquet tiers written by ``checkpoint.write_tier``:

- :func:`enforce_retention` — drop whole ``bucket_date=`` partition
  directories older than a per-tier cutoff. Pure partition-metadata
  operation: nothing is scanned, cost ∝ partitions dropped, exactly like
  ``drop_chunks`` / ``DROP TABLE month``. Finer tiers keep shorter
  horizons than coarser ones (raw < 1min < 1h < 1d) — the tiered-retention
  contract of the north rule.
- :func:`compact_tier` — bin-pack fragmented day partitions (many small
  files, e.g. after many incremental ``upsert_batch`` merges) into
  ~``target_bytes`` files, content-preserved (row count + integer checksum
  asserted before/after), one partition at a time so the rewrite
  granularity — and failure blast radius — is a single day directory.
  Iceberg's ``rewrite_data_files`` expressed on plain parquet.

Both record what they did into the tier's ``_maintenance.json`` ledger
(append-only list of actions) — the lineage surface for audits; cutoffs
are explicit arguments (never wall-clock) so runs are deterministic and
testable.

Every listing, partition drop, stat and ledger write goes through
``streaming.fsio`` with ``fsio.session_for(path)``, so a tier addressed by
URI (file://, hdfs://, s3a://) takes the same code path as a plain one
(an active SparkSession is required for URI paths), and the ledger is
written tmp + rename. A day is rewritten in place only through the
journaled swap of ``streaming.txn``: compaction commits each packed day
with ``txn.swap_commit``, and both entry points run ``txn.recover``
first, so a crashed rewrite rolls back instead of losing the day, and a
dropped day cannot come back from a crashed swap's backups. Run
maintenance while no writer is committing to the tier: ``txn.recover``
rolls back any swap that has not committed, an in-flight one included.
"""

from __future__ import annotations

import datetime as _dt
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aisdb_spark.streaming import fsio, txn

LEDGER = "_maintenance.json"


def _append_ledger(tier_dir: str, entry: dict) -> None:
    spark = fsio.session_for(tier_dir)
    log = fsio.read_side_json(spark, tier_dir, LEDGER) or []
    log.append(entry)
    fsio.write_side_json_atomic(spark, tier_dir, LEDGER, log)


def _date_partitions(tier_dir: str) -> list[tuple[_dt.date, str]]:
    entries = fsio.list_entries(fsio.session_for(tier_dir), tier_dir)
    out = []
    for name in sorted(n for n, _sz, is_dir in entries if is_dir):
        if not name.startswith("bucket_date="):
            continue
        try:
            d = _dt.date.fromisoformat(name.split("=", 1)[1])
        except ValueError:
            continue
        out.append((d, f"{tier_dir.rstrip('/')}/{name}"))
    return out


def enforce_retention(
    tier_dirs: dict[str, str], cutoffs: dict[str, _dt.date]
) -> dict[str, list[str]]:
    """Drop day partitions strictly older than each tier's cutoff date.

    ``cutoffs`` maps tier name → first date to KEEP. Returns the dropped
    partition dates per tier. No Spark job runs — directory removal only
    (the reference's monthly DROP TABLE; TimescaleDB ``drop_chunks``).
    A crashed swap is settled first: its backups are renamed home or
    deleted before the listing, never restored over a drop.
    """
    dropped: dict[str, list[str]] = {}
    for tier, cutoff in cutoffs.items():
        tdir = tier_dirs.get(tier)
        if tdir is None:
            continue
        spark = fsio.session_for(tdir)
        txn.recover(spark, tdir)
        gone = []
        for d, path in _date_partitions(tdir):
            if d < cutoff:
                fsio.delete_dir(spark, path)
                gone.append(str(d))
        dropped[tier] = gone
        if gone:
            _append_ledger(
                tdir,
                {
                    "action": "retention_drop",
                    "cutoff": str(cutoff),
                    "dropped_partitions": gone,
                },
            )
    return dropped


def _partition_stats(path: str) -> tuple[int, int]:
    sizes = [
        sz
        for n, sz, is_dir in fsio.list_entries(fsio.session_for(path), path)
        if not is_dir and n.endswith(".parquet")
    ]
    return len(sizes), sum(sizes)


def _content(df: DataFrame) -> tuple[int, int]:
    """Row count + order-independent bit_xor(xxhash64) checksum."""
    return tuple(df.agg(
        F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns))
    ).collect()[0])


def compact_tier(
    spark: SparkSession,
    tier_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 4,
) -> dict:
    """Bin-pack fragmented day partitions of one tier.

    A partition is rewritten when its file count exceeds both
    ``min_files_to_compact`` and the ideal count ``ceil(bytes/target)``.
    The rewrite reads one day directory, coalesces to the ideal count
    (lineage truncated via localCheckpoint), and commits that day alone
    through ``txn.swap_commit``: the old files are renamed into the swap's
    backup before the write, so a failed write leaves a journal that the
    next run's ``txn.recover`` rolls back to the fragmented day. Content
    preservation is asserted with ``_content`` before/after — a corrupted
    rewrite raises before anything is committed to the ledger.
    """
    txn.recover(spark, tier_dir)
    actions = []
    for d, path in _date_partitions(tier_dir):
        n_files, nbytes = _partition_stats(path)
        ideal = max(1, math.ceil(nbytes / target_bytes))
        if n_files <= max(min_files_to_compact, ideal):
            continue
        df = spark.read.parquet(path)
        before = _content(df)
        packed = df.coalesce(ideal).localCheckpoint(eager=True)
        txn.swap_commit(spark, tier_dir, packed.withColumn("bucket_date", F.lit(d)), [d])
        after = _content(spark.read.parquet(path))
        if before != after:
            raise RuntimeError(
                f"compaction checksum mismatch in {path}: {before} -> {after}"
            )
        actions.append(
            {
                "partition": str(d),
                "files_before": n_files,
                "files_after": _partition_stats(path)[0],
                "bytes": nbytes,
            }
        )
    if actions:
        _append_ledger(tier_dir, {"action": "compact", "partitions": actions})
    return {"compacted": len(actions), "actions": actions}
