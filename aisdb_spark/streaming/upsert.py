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
  apply — effectively-once for the tier. Rounds 1-4 documented one
  residual window (a crash between the tier write finishing and the
  ``_epoch.json`` rename left a half-applied batch the replay would
  double-count); round 5 closed it with the journaled partition-swap
  commit in ``streaming/txn.py`` — touched partitions are renamed to a
  backup under a write-ahead journal, the epoch record is the atomic
  commit point, and :func:`txn.recover` rolls an uncommitted write back
  to the exact pre-batch tier so the source's replay applies cleanly.
  ``sources/iceberg.upsert_batch_iceberg`` remains the single-commit
  transactional path where the runtime jar exists (gated, exercised by
  tests/test_iceberg_gate.py). The reference's PK-dedup contract maps to
  "a (conv_id, turn_idx) turn is applied once".

Invariant (tested): after draining ANY split of the input into micro-batch
files — including late files that revisit old buckets — the stored tier is
row-identical to the one-shot batch ``rollup.temporal_bin`` of the full
input.

Scale: the merge reads only the affected ``bucket_date`` partitions
(partition pruning on the tier scan) and shuffles only
|late partials| + |existing rows of touched days|; with an Iceberg catalog
the dynamic overwrite becomes ``overwritePartitions()`` on the same keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aisdb_spark.streaming import txn

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


def merge_partials(parts: DataFrame) -> DataFrame:
    """Algebraic merge of 1min partials sharing (conv_id, bucket_start)."""
    return parts.groupBy("conv_id", "bucket_start").agg(
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
    pending_refresh: bool = False,
) -> list:
    """Merge one batch of raw turns into the partial-1min tier at
    ``tier_dir`` (day-partitioned parquet). Returns the affected days.

    When ``epoch_id`` is given (the foreachBatch micro-batch id, strictly
    increasing per checkpoint), an epoch at or below the tier's recorded
    ``_epoch.json`` watermark is skipped — the idempotent-apply half of
    the effectively-once contract (see module docstring).
    ``pending_refresh=True`` (cascade caller) records the affected days as
    owing a coarser-tier refresh alongside the epoch, so a crash before
    the refresh completes is replayed instead of silently skipped."""
    day = F.to_date("bucket_start")
    return txn.merge_into_tier(
        spark, tier_dir,
        partial_1min(turns).withColumn("bucket_date", day),
        lambda parts: merge_partials(parts).withColumn("bucket_date", day),
        epoch_id=epoch_id, pending_refresh=pending_refresh,
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
    skipped by the epoch guard, so a killed run re-converges to identical
    bytes — modulo the narrow commit window documented in the module
    docstring."""
    from aisdb_spark.sources.normalize import ensure_ltz, normalize_session

    normalize_session(spark)
    reader = spark.readStream.schema(schema).option(
        "recursiveFileLookup", "true"  # waves land in subdirectories
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    src = ensure_ltz(reader.parquet(landing_dir))
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
    tier_1min_dir: str,
    coarser_dirs: dict[str, str],
    dates: list,
) -> None:
    """Incremental continuous-aggregate refresh: recompute the 1h/1d rows
    of ONLY the affected days from the upserted 1min tier and
    dynamic-partition-overwrite them. A day is self-contained for every
    coarser unit (day ⊇ hour ⊇ minute), so refreshing whole affected days
    is exact; cost ∝ touched days, not table size. TimescaleDB's
    ``refresh_continuous_aggregate(window)`` expressed in Spark."""
    from aisdb_spark.operators import rollup

    if not dates:
        return
    public = read_tier_public(spark, tier_1min_dir).filter(
        F.to_date("bucket_start").isin(dates)
    )
    upstream = public
    for unit, out_dir in (("hour", coarser_dirs.get("1h")), ("day", coarser_dirs.get("1d"))):
        if out_dir is None:
            continue
        tier = rollup.tier_from_finer(upstream, unit).withColumn(
            "bucket_date", F.to_date("bucket_start")
        )
        tier = tier.localCheckpoint(eager=True)
        # date-clustered write: file count = dates × k, not partitions ×
        # dates; k SIZE-derived like txn.swap_commit/checkpoint.write_tier
        # (~1M rows per file per date, floor 1). The count is a cheap read
        # of the just-checkpointed blocks, not a recompute.
        n_rows = tier.count()
        k = max(1, -(-n_rows // (1_000_000 * max(len(dates), 1))))
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in tier.columns]), F.lit(k)
        )
        (
            tier.repartition(
                max(len(dates), 1) * k, F.col("bucket_date"), salt
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket_date")
            .parquet(out_dir)
        )
        upstream = tier.drop("bucket_date")


def upsert_batch_cascade(
    spark: SparkSession,
    turns: DataFrame,
    tier_1min_dir: str,
    coarser_dirs: dict[str, str],
    epoch_id: int | None = None,
) -> int:
    """One micro-batch: upsert the 1min tier, then refresh the coarser
    tiers for the affected days only.  Returns affected-day count.

    Crash safety (round-4 ADVICE fix): the 1min upsert records the
    affected days as ``pending_refresh`` atomically WITH its epoch, and
    the marker is cleared only after the coarser refresh completes. A
    replayed epoch therefore either skips everything (refresh finished
    last time) or re-runs JUST the idempotent refresh for the recorded
    days — the 1h/1d tiers can no longer be left permanently stale by a
    crash between the epoch record and the refresh."""
    dates = upsert_batch(
        spark, turns, tier_1min_dir, epoch_id=epoch_id, pending_refresh=True
    )
    if epoch_id is not None and not dates:
        # skipped replay: finish the refresh a crash left owed, if any
        dates = txn.pending_refresh_dates(spark, tier_1min_dir)
    refresh_coarser(spark, tier_1min_dir, coarser_dirs, dates)
    if epoch_id is not None and dates:
        txn.clear_pending_refresh(spark, tier_1min_dir)
    return len(dates)


def read_tier_public(spark: SparkSession, tier_dir: str) -> DataFrame:
    """The tier's public rollup surface (drops the merge-state columns)."""
    return spark.read.parquet(tier_dir).select(
        "conv_id",
        "bucket_start",
        "n_turns",
        "sum_value",
        "min_value",
        "max_value",
        "first_value",
        "last_value",
    )
