"""Incremental late-data upsert into the materialized 1min tier.

The reference absorbs late/duplicate data with insert-time primary-key
dedup — rows landing after their window simply insert into the monthly
table (``aisdb/database/decoder.py:199-259``); TimescaleDB continuous
aggregates re-merge *partials* when late rows arrive. The Spark-first
equivalent implemented here:

- the stored 1min tier carries **mergeable partials**: the public measures
  (n/sum/min/max/first/last) PLUS the ``turn_idx`` boundaries
  (``ti_min``/``ti_max``) that make first/last re-mergeable — the same
  trick as ``rollup.temporal_bin_salted``'s salt merge, persisted;
- each micro-batch of raw turns is aggregated to 1min partials, merged
  with the existing tier rows of ONLY the affected day partitions, and
  written back with **dynamic partition overwrite** — untouched days are
  never rewritten, and the write is overwrite-not-append so a replayed
  batch converges to the same bytes (SURVEY §7 hard-point (c));
- replays cannot double-count: the file-stream source skips
  already-processed files under a checkpointLocation, and the tier records
  the last applied micro-batch epoch in ``_epoch.json`` so a replayed
  epoch (crash after tier write, before checkpoint commit) is skipped
  idempotently. The guarantee is at-least-once delivery + idempotent
  apply — effectively-once for the tier. Every write is the journaled
  partition swap of ``streaming/txn.py``: touched partitions are renamed
  to a backup under a write-ahead journal, the epoch record is the atomic
  commit point, and :func:`txn.recover` rolls an uncommitted write back to
  the exact pre-batch tier so the source's replay applies cleanly.
  ``sources/iceberg.upsert_batch_iceberg`` remains the single-commit
  transactional path where the runtime jar exists (gated, exercised by
  tests/test_iceberg_gate.py). The reference's PK-dedup contract maps to
  "a (conv_id, turn_idx) turn is applied once".

The cascade (1min → 1h → 1d, TimescaleDB's continuous aggregates) has one
commit path: the 1h/1d rows of the touched days are derived from the
merged, materialized 1min rows of those days — exact, because a day holds
every hour and minute in it — and swapped in under the same epoch BEFORE
the 1min swap. The 1min epoch record is therefore the cascade's only
commit point: a crash before it rolls the 1min tier back and the replay
rebuilds the same 1min rows and re-swaps the same whole coarse days; a
crash after it owes nothing.

Invariant (tested): after draining ANY split of the input into micro-batch
files — including late files that revisit old buckets — the stored tier is
row-identical to the one-shot batch ``rollup.temporal_bin`` of the full
input.

Scale: the merge reads only the affected ``bucket_date`` partitions
(the existing day directories, read by path with the known tier schema)
and shuffles only |late partials| + |existing rows of touched days|, once,
by the write key ``(bucket_date, salt)`` with the salt hashed from
``conv_id``. The merge groups within that clustering, and so do the hour
and day aggregations after their one exchange each, so every tier is
written as its rows lie: one file per touched day at micro-batch sizes.
The batch's touched days and row count ride on its own materialization as
an ``Observation``, not on separate jobs. With an Iceberg catalog the
dynamic overwrite becomes ``overwritePartitions()`` on the same keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aisdb_spark.streaming import txn

# the public measures first (read_tier_public), then the merge state
PARTIAL_COLS = [
    "n_turns",
    "sum_value",
    "min_value",
    "max_value",
    "first_value",
    "last_value",
    "ti_min",
    "ti_max",
]


def partial_1min(turns: DataFrame) -> DataFrame:
    """Raw turns → mergeable 1min partials (public measures + turn_idx
    boundaries). Re-aggregating partials with :func:`merge_partials` over
    any grouping of the input yields byte-identical results to
    ``rollup.temporal_bin`` because every measure is algebraic."""
    return turns.groupBy(
        "conv_id", F.date_trunc("minute", "ts").alias("bucket_start")
    ).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.min_by("value", "turn_idx").alias("first_value"),
        F.max_by("value", "turn_idx").alias("last_value"),
        F.min("turn_idx").alias("ti_min"),
        F.max("turn_idx").alias("ti_max"),
    )


def merge_partials(parts: DataFrame, *keys: str) -> DataFrame:
    """Algebraic merge of 1min partials sharing (conv_id, bucket_start).
    ``keys`` are further grouping columns carried through, each a function
    of (conv_id, bucket_start) — the cascade's ``bucket_date`` and
    ``salt``, which keep the merge in the stage of its clustering."""
    return parts.groupBy("conv_id", "bucket_start", *keys).agg(
        F.sum("n_turns").alias("n_turns"),
        F.sum("sum_value").alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
        F.min_by("first_value", "ti_min").alias("first_value"),
        F.max_by("last_value", "ti_max").alias("last_value"),
        F.min("ti_min").alias("ti_min"),
        F.max("ti_max").alias("ti_max"),
    )


def upsert_batch(
    spark: SparkSession,
    turns: DataFrame,
    tier_dir: str,
    epoch_id: int | None = None,
    coarser_dirs: dict[str, str] | None = None,
) -> list:
    """Merge one batch of raw turns into the partial-1min tier at
    ``tier_dir`` (day-partitioned parquet). Returns the affected days.

    When ``epoch_id`` is given (the foreachBatch micro-batch id, strictly
    increasing per checkpoint), an epoch at or below the tier's recorded
    ``_epoch.json`` watermark is skipped — the idempotent-apply half of
    the effectively-once contract (see module docstring). With
    ``coarser_dirs`` (``{"1h": dir, "1d": dir}``, either optional) the
    affected days of those tiers are rebuilt from the merged 1min rows by
    :func:`refresh_coarser` and committed before the 1min tier."""
    window = None
    if coarser_dirs:
        def window(dates):
            return dates, lambda out, _stats, cluster: refresh_coarser(
                spark, out, cluster, coarser_dirs, dates, epoch_id
            )
    return txn.merge_into_tier(
        spark, tier_dir,
        partial_1min(turns).withColumn("bucket_date", F.to_date("bucket_start")),
        lambda parts, cluster: merge_partials(
            cluster(parts, "conv_id"), "bucket_date", "salt"
        ),
        epoch_id=epoch_id, window=window,
    )


def stream_upsert_1min(
    spark: SparkSession,
    landing_dir: str,
    tier_dir: str,
    checkpoint_dir: str,
    schema,
    glob: str | None = None,
) -> None:
    """Drain a landing directory of raw-turn parquet files into the tier
    via ``foreachBatch`` upserts (availableNow). ``checkpoint_dir`` plus
    the tier's ``_epoch.json`` watermark make resume effectively-once:
    already-processed files are skipped by the source and a replayed
    micro-batch (crash between tier write and checkpoint commit) is
    skipped by the epoch guard, and a write cut short is rolled back by
    the journaled swap, so a killed run re-converges to the same rows."""
    from aisdb_spark.sources.normalize import read_parquet_stream

    # waves land in subdirectories
    src = read_parquet_stream(spark, landing_dir, schema, glob, recursive=True)
    q = (
        src.writeStream.foreachBatch(
            lambda batch, epoch: upsert_batch(spark, batch, tier_dir, epoch_id=epoch)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def refresh_coarser(
    spark: SparkSession,
    out: DataFrame,
    cluster,
    coarser_dirs: dict[str, str],
    dates: list,
    epoch_id: int | None = None,
) -> None:
    """Incremental continuous-aggregate refresh: derive the 1h/1d rows of
    ``dates`` from ``out`` — the materialized, merged 1min rows of exactly
    those days, with their ``salt`` — and commit each tier with the
    journaled swap under ``epoch_id``. A day is self-contained for every
    coarser unit (day ⊇ hour ⊇ minute), so rebuilding whole affected days
    is exact and re-swapping them on a replay is idempotent; cost ∝
    touched days, not table size. TimescaleDB's
    ``refresh_continuous_aggregate(window)`` expressed in Spark.

    Each tier takes one exchange, ``cluster(out)`` on (bucket_date,
    salt): the salt hashes conv_id, so the hour and the day aggregations
    both group within it and run in the stage after the exchange, and the
    swap writes their rows as they lie (the ``settle`` contract of
    :func:`txn.merge_into_tier`)."""
    from aisdb_spark.operators import rollup

    hourly = rollup.tier_from_finer(cluster(out), "hour", "bucket_date", "salt")
    daily = rollup.tier_from_finer(hourly, "day", "bucket_date", "salt")
    for tier_dir, rows in ((coarser_dirs.get("1h"), hourly), (coarser_dirs.get("1d"), daily)):
        if tier_dir:
            txn.recover(spark, tier_dir)
            txn.swap_commit(spark, tier_dir, rows.drop("salt"), dates, epoch_id=epoch_id)


def upsert_batch_cascade(
    spark: SparkSession,
    turns: DataFrame,
    tier_1min_dir: str,
    coarser_dirs: dict[str, str],
    epoch_id: int | None = None,
) -> int:
    """One micro-batch through the whole cascade: merge the 1min tier and
    rebuild the 1h/1d tiers for the affected days only. Returns the
    affected-day count (0 for an empty batch or an already-applied epoch).

    Commit order: 1h, then 1d, then 1min — each a journaled swap under the
    same epoch, so the 1min epoch record is the single commit point (module
    docstring). A replayed epoch at or below it is skipped whole."""
    return len(upsert_batch(spark, turns, tier_1min_dir, epoch_id, coarser_dirs))


def read_tier_public(spark: SparkSession, tier_dir: str) -> DataFrame:
    """The tier's public rollup surface (drops the merge-state columns)."""
    return spark.read.parquet(tier_dir).select(
        "conv_id", "bucket_start", *PARTIAL_COLS[:6]
    )
