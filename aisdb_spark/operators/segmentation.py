"""Gap-aware segmentation — pure Window functions, no UDFs.

Re-expresses AISdb's generator-based track splitting:

- ``split_timedelta`` (``aisdb/track_gen.py:167-204``; split indices
  ``aisdb/proc_util.py:53-68``: ``nonzero(diff(t) >= maxdelta) + 1``):
  break a conversation where the inter-turn gap ≥ threshold.
- ``split_tracks`` multi-criterion splitting (``aisdb/track_gen.py:207-263``,
  ``aisdb/proc_util.py:80-163``): OR of several per-step break conditions,
  then drop segments shorter than ``min_segment_length``
  (``aisdb/proc_util.py:160-163``).

Spark shape: ``lag`` over ``Window.partitionBy(conv_id).orderBy(turn_idx)``
→ boolean break flag → running ``sum`` of the flag = segment id. This is
the classic sessionization idiom: one shuffle on the entity key, all
flag/cumsum work inside whole-stage codegen, linear in rows.

Scale: the only shuffle is the hash exchange on ``conv_id`` — identical to
the exchange every other per-conversation operator needs, so AQE/Catalyst
reuse it across chained stages. Hot conversations make single window
partitions large but the state per row is O(1). Nothing chunks a
conversation before a later per-entity Python stage; only the codec chunks
itself (``codec.compress(max_rows=...)``, mirroring AISdb's 50k-row
batching, ``aisdb_lib/src/decode.rs:19``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_CONV_ORDER = ("conv_id", "turn_idx")


def _conv_window() -> Window:
    return Window.partitionBy("conv_id").orderBy("turn_idx")


def gap_split(df: DataFrame, gap_seconds: int = 3600) -> DataFrame:
    """Append ``segment_id``: 0-based index, incremented where the gap to the
    previous turn ≥ ``gap_seconds``.

    Semantics of AISdb ``split_timedelta(maxdelta)`` with its ``>=``
    comparison (``aisdb/proc_util.py:62``). Gaps are computed on exact
    microsecond timestamps (``unix_micros``) so Spark and the DuckDB oracle
    (``epoch_us``) agree bit-for-bit.
    """
    w = _conv_window()
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flag = F.when(gap_us >= int(gap_seconds) * 1_000_000, F.lit(1)).otherwise(F.lit(0))
    return df.withColumn(
        "segment_id",
        F.sum(flag).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
    )


def multi_criteria_split(
    df: DataFrame,
    gap_seconds: int = 3600,
    max_value_jump: int | None = 500,
    max_rate: float | None = None,
    min_segment_length: int = 1,
) -> DataFrame:
    """Multi-criterion segmentation + short-segment drop.

    Analog of AISdb ``split_tracks`` (``aisdb/track_gen.py:207-263``): break
    where Δt ≥ ``gap_seconds`` OR |Δvalue| ≥ ``max_value_jump`` OR
    |Δvalue|/Δt ≥ ``max_rate``; afterwards drop segments with fewer than
    ``min_segment_length`` turns (``aisdb/proc_util.py:160-163``).

    Requires a ``value`` column (see ``sources.transcripts.with_value``).
    Returns df + ``segment_id`` + ``segment_len``, filtered.
    """
    w = _conv_window()
    dt_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    dv = F.abs(F.col("value") - F.lag("value").over(w))
    cond = dt_us >= int(gap_seconds) * 1_000_000
    if max_value_jump is not None:
        cond = cond | (dv >= F.lit(max_value_jump))
    if max_rate is not None:
        # rate per second on microsecond-exact dt; guard dt=0 like AISdb's
        # max(Δt, 1) in delta_knots (aisdb/gis.py:93-181)
        rate = dv / F.greatest(dt_us / F.lit(1_000_000.0), F.lit(1e-6))
        cond = cond | (rate >= F.lit(max_rate))
    flag = F.when(cond, F.lit(1)).otherwise(F.lit(0))
    out = df.withColumn(
        "segment_id",
        F.sum(flag).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
    )
    seg_w = Window.partitionBy("conv_id", "segment_id")
    out = out.withColumn("segment_len", F.count(F.lit(1)).over(seg_w).cast("int"))
    if min_segment_length > 1:
        out = out.filter(F.col("segment_len") >= min_segment_length)
    return out


def segment_bounds(df_with_segments: DataFrame) -> DataFrame:
    """Collapse a segmented frame to one row per (conv_id, segment_id) —
    the FIXTURES.md golden "segment table" shape, and the graft analog of
    AISdb's per-segment track dict metadata (``aisdb/track_gen.py:167-204``
    appends segment index ``idx`` per split)."""
    return (
        df_with_segments.groupBy("conv_id", "segment_id")
        .agg(
            F.min("turn_idx").alias("start_turn_idx"),
            F.max("turn_idx").alias("end_turn_idx"),
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.count(F.lit(1)).alias("n_turns"),
        )
    )


def discontinuity_split(df: DataFrame, max_idx_jump: int = 1) -> DataFrame:
    """Split where turn_idx jumps by more than ``max_idx_jump`` — the
    ordinal-discontinuity analog of AISdb's anti-meridian longitude split
    (``aisdb/track_gen.py:38-64``: break where |Δlon| > 300°). Useful after
    upstream filtering has removed turns."""
    w = _conv_window()
    jump = F.col("turn_idx") - F.lag("turn_idx").over(w)
    flag = F.when(jump > max_idx_jump, F.lit(1)).otherwise(F.lit(0))
    return df.withColumn(
        "segment_id",
        F.sum(flag).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
    )
