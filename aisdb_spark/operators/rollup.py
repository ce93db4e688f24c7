"""Tiered temporal rollups (continuous-aggregate cascade) — pure built-ins.

The retention tiers raw → 1min → 1h → 1d are the TimescaleDB
continuous-aggregate pattern AISdb's storage targets (hypertable with 7-day
chunks + per-mmsi compression, ``aisdb/aisdb_sql/timescale_createtable_
dynamic.sql:16-30``; ``README.md:24``) but never implements in Python — here
each tier is a ``groupBy(conv_id, date_trunc(unit, ts))`` aggregation, and
each coarser tier is computed FROM the finer tier (count/sum/min/max compose;
first/last carried by the finer tier's bucket ordering).

Byte-match determinism: the rolled-up measures are integer-domain
(``value = length(text)``), so SUM/MIN/MAX/COUNT are exact and independent
of partition order — identical output at local[8] and local[32], and
identical to the DuckDB oracle. ``first/last`` use ``min_by/max_by`` on the
unique in-conversation ordinal ``turn_idx`` (unique ⇒ no tie ambiguity).

Scale: one shuffle per tier on (conv_id, bucket) with map-side partial
aggregation; each tier's input is ~60x smaller than the previous, so the
cascade's cost is dominated by the first tier. At 100 TB the raw→1min tier
reads an Iceberg table partitioned days(ts) × bucket(conv_id): partition
pruning bounds the scan, and the group-by key (conv_id, minute) is
near-co-located with the bucket layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TIER_UNITS = ("minute", "hour", "day")
_COARSER = {"minute": "hour", "hour": "day"}

ROLLUP_COLS = [
    "n_turns",
    "sum_value",
    "min_value",
    "max_value",
    "first_value",
    "last_value",
]


def temporal_bin(df: DataFrame, unit: str = "minute") -> DataFrame:
    """raw turns → one rollup row per (conv_id, bucket_start).

    The temporal-binning analog of AISdb's H3 spatial discretization
    (``aisdb/discretize/h3.py:37-48``) applied on the time axis; measure set
    mirrors AISdb's transit statistics (min/avg/max/first/last per segment,
    ``aisdb/network_graph.py:84-210``). Requires a ``value`` column.
    """
    assert unit in TIER_UNITS, unit
    return (
        df.groupBy("conv_id", F.date_trunc(unit, "ts").alias("bucket_start"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.min_by("value", "turn_idx").alias("first_value"),
            F.max_by("value", "turn_idx").alias("last_value"),
        )
    )


def tier_from_finer(finer: DataFrame, unit: str, *keys: str) -> DataFrame:
    """Re-aggregate a finer tier into a coarser one (1min→1h, 1h→1d).

    first/last are carried by the finer tier's ``bucket_start`` ordering —
    valid because ``ts`` is non-decreasing in ``turn_idx`` within a
    conversation (the transcripts invariant), so the earliest finer bucket
    contains the overall first turn. ``keys`` are further grouping columns
    carried through, each constant within a coarse bucket (the streaming
    cascade's ``bucket_date`` and ``salt``).
    """
    assert unit in ("hour", "day"), unit
    return (
        finer.groupBy(
            "conv_id", F.date_trunc(unit, "bucket_start").alias("bucket_start"), *keys
        )
        .agg(
            F.sum("n_turns").alias("n_turns"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
            F.min_by("first_value", "bucket_start").alias("first_value"),
            F.max_by("last_value", "bucket_start").alias("last_value"),
        )
    )


def rollup_cascade(df: DataFrame) -> dict[str, DataFrame]:
    """Full retention cascade raw→1min→1h→1d.

    Returns ``{"1min": ..., "1h": ..., "1d": ...}``; each coarser tier is
    derived from the finer one (the continuous-aggregate refresh shape).
    The caller materializes tiers via ``checkpoint.write_tier`` so the
    cascade reads each tier once (otherwise Spark would recompute the
    lineage per tier).
    """
    t1m = temporal_bin(df, "minute")
    t1h = tier_from_finer(t1m, "hour")
    t1d = tier_from_finer(t1h, "day")
    return {"1min": t1m, "1h": t1h, "1d": t1d}


def temporal_bin_salted(
    df: DataFrame, unit: str = "minute", salt_buckets: int = 8,
    chunk_rows: int = 16,
) -> DataFrame:
    """Hot-key-safe two-phase rollup: partial aggregate per
    (conv, bucket, salt), then merge — byte-identical to
    :func:`temporal_bin` because every measure is algebraic (count/sum/
    min/max compose; first/last carried with their turn_idx boundaries and
    re-argmin/argmaxed in the merge).

    This is the skew plan for a conversation so hot that a single
    (conv, bucket) group overwhelms one reducer (FIXTURES.md plants a 100x
    conversation; the reference's analog is TimescaleDB's mmsi-hash
    partitioning, aisdb/aisdb_sql/timescale_createtable_dynamic.sql:16-22).
    The salt is derived from turn_idx (plans/partitioning.with_salt), so
    partials stay contiguous in turn order and the merge keys are exact.
    """
    from aisdb_spark.plans.partitioning import with_salt

    assert unit in TIER_UNITS, unit
    partial = (
        with_salt(df, salt_buckets=salt_buckets, chunk_rows=chunk_rows)
        .groupBy(
            "conv_id", F.date_trunc(unit, "ts").alias("bucket_start"), "salt"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
            F.min_by("value", "turn_idx").alias("f"),
            F.max_by("value", "turn_idx").alias("l"),
            F.min("turn_idx").alias("ti_min"),
            F.max("turn_idx").alias("ti_max"),
        )
    )
    return partial.groupBy("conv_id", "bucket_start").agg(
        F.sum("n").alias("n_turns"),
        F.sum("s").alias("sum_value"),
        F.min("mn").alias("min_value"),
        F.max("mx").alias("max_value"),
        F.min_by("f", "ti_min").alias("first_value"),
        F.max_by("l", "ti_max").alias("last_value"),
    )
