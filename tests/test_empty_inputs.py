"""Empty-input behavior (FIXTURES.md edge case: empty query result / empty
table — aisdb/tests/test_005_dbqry.py:21-37, aisdb/database/dbqry.py:274):
every operator must return an empty, correctly-typed frame, not raise."""

from __future__ import annotations

from pyspark.sql import functions as F

from aisdb_spark.operators import (
    codec,
    dedup,
    deltas,
    downsample,
    encoder,
    interp,
    mode_agg,
    rollup,
    segmentation,
    timeinrange,
    transitions,
)
from aisdb_spark.schema import TRANSCRIPTS_SCHEMA


def _empty(spark):
    df = spark.createDataFrame([], TRANSCRIPTS_SCHEMA)
    return df.withColumn("value", F.expr("CAST(length(text) AS BIGINT)"))


def test_all_operators_on_empty(spark):
    tv = _empty(spark)
    assert segmentation.gap_split(tv).count() == 0
    assert segmentation.multi_criteria_split(tv, min_segment_length=2).count() == 0
    assert segmentation.segment_bounds(segmentation.gap_split(tv)).count() == 0
    assert rollup.temporal_bin(tv, "minute").count() == 0
    tiers = rollup.rollup_cascade(tv)
    assert tiers["1d"].count() == 0
    assert dedup.dedup_turns(tv).count() == 0
    assert deltas.with_deltas(tv).count() == 0
    assert deltas.min_rate_filter(tv, 0.1).count() == 0
    assert transitions.transition_edges(tv).count() == 0
    assert mode_agg.conv_meta(tv).count() == 0
    assert timeinrange.time_in_range(tv, 0, 100).count() == 0
    assert downsample.every_nth(tv, 3).count() == 0
    assert downsample.lttb(tv, 16).count() == 0
    segd = segmentation.gap_split(tv)
    assert interp.interp_time(segd, 60).count() == 0
    assert interp.interp_cubic_spline(segd, 60).count() == 0
    assert interp.ewma(tv).count() == 0
    assert interp.interp_spacing(tv, 10).count() == 0
    assert encoder.encode_pathways(tv).count() == 0
    enc = codec.compress(tv)
    assert enc.count() == 0
    assert codec.decompress(enc).count() == 0


def test_round2_modules_on_empty(spark, tmp_path):
    """Upsert, maintenance, expression interp — empty in, empty (or no-op)
    out, never raise."""
    import datetime as dt

    from aisdb_spark import maintenance
    from aisdb_spark.operators import interp as interp_mod
    from aisdb_spark.operators import segmentation
    from aisdb_spark.streaming import upsert as ups

    tv = _empty(spark).withColumn("turn_idx", F.col("turn_idx").cast("int"))
    # expression interp on empty
    segd = segmentation.gap_split(tv)
    assert interp_mod.interp_time_expr(segd, 600).count() == 0
    # upsert with an empty batch: no tier created, no affected dates
    tier = str(tmp_path / "tier")
    assert ups.upsert_batch(spark, tv, tier) == []
    import os

    assert not os.path.isdir(tier)
    # cascade upsert with empty batch: coarser tiers untouched too
    assert (
        ups.upsert_batch_cascade(
            spark, tv, tier, {"1h": str(tmp_path / "h")}
        )
        == 0
    )
    # maintenance over a directory that does not exist
    assert maintenance.enforce_retention(
        {"1min": str(tmp_path / "nope")}, {"1min": dt.date(2000, 1, 1)}
    ) == {"1min": []}
    assert maintenance.compact_tier(spark, str(tmp_path / "nope"))[
        "compacted"
    ] == 0
