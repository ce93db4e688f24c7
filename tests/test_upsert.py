"""Late-data upsert invariants: incremental merge == one-shot batch rollup.

Reference contract: late rows simply insert into the monthly table and the
PK absorbs duplicates (``aisdb/database/decoder.py:199-259``); here the
equivalent guarantee is that ANY micro-batch split of the input — however
late — converges the materialized tier to the batch answer, and re-draining
with no new files changes nothing (exactly-once resume).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aisdb_spark.operators import rollup
from aisdb_spark.sources.transcripts import load_transcripts, with_value
from aisdb_spark.streaming import upsert as ups
from tests.conftest import SF_SMALL


def _tv(spark):
    return with_value(load_transcripts(spark, SF_SMALL)).select(
        "conv_id", "turn_idx", "ts", "value"
    )


def _schema(tv):
    return T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", tv.schema["turn_idx"].dataType),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", tv.schema["value"].dataType),
        ]
    )


def _expected(tv):
    return rollup.temporal_bin(tv, "minute")


def test_three_wave_upsert_converges(spark, tmp_path):
    tv = _tv(spark).cache()
    landing = str(tmp_path / "landing")
    tier = str(tmp_path / "tier")
    ck = str(tmp_path / "ck")
    for wave in range(3):
        tv.filter(F.pmod("turn_idx", F.lit(3)) == wave).write.parquet(
            f"{landing}/w{wave}"
        )
        ups.stream_upsert_1min(
            spark, landing, tier, ck, _schema(tv), glob="part-*.parquet"
        )
    got = ups.read_tier_public(spark, tier)
    exp = _expected(tv)
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_redrain_is_idempotent(spark, tmp_path):
    tv = _tv(spark).cache()
    landing = str(tmp_path / "landing")
    tier = str(tmp_path / "tier")
    ck = str(tmp_path / "ck")
    tv.write.parquet(f"{landing}/w0")
    ups.stream_upsert_1min(
        spark, landing, tier, ck, _schema(tv), glob="part-*.parquet"
    )
    before = ups.read_tier_public(spark, tier).collect()
    # resume with nothing new: processed files are in the checkpoint log
    ups.stream_upsert_1min(
        spark, landing, tier, ck, _schema(tv), glob="part-*.parquet"
    )
    after = ups.read_tier_public(spark, tier).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


def test_cascade_refresh_propagates_late_data(spark, tmp_path):
    """Late waves upserted into 1min must refresh 1h and 1d for affected
    days only, converging ALL tiers to the one-shot batch cascade."""
    tv = _tv(spark).cache()
    t1 = str(tmp_path / "t1min")
    dirs = {"1h": str(tmp_path / "t1h"), "1d": str(tmp_path / "t1d")}
    for wave in range(2):
        batch = tv.filter(F.pmod("turn_idx", F.lit(2)) == wave)
        ups.upsert_batch_cascade(spark, batch, t1, dirs)
    exp_1m = rollup.temporal_bin(tv, "minute")
    exp_1h = rollup.tier_from_finer(exp_1m, "hour")
    exp_1d = rollup.tier_from_finer(exp_1h, "day")
    for path, exp in ((t1, exp_1m), (dirs["1h"], exp_1h), (dirs["1d"], exp_1d)):
        got = (
            ups.read_tier_public(spark, path)
            if path == t1
            else spark.read.parquet(path).drop("bucket_date")
        )
        assert got.exceptAll(exp).count() == 0, path
        assert exp.exceptAll(got).count() == 0, path


def test_upsert_tier_scan_is_partition_pruned(spark, tmp_path):
    """The merge must read only affected bucket_date directories — the
    property that keeps per-batch cost ∝ late data at 100 TB."""
    import datetime as dt

    tv = _tv(spark).cache()
    tier = str(tmp_path / "tier")
    ups.upsert_batch(spark, tv, tier)
    some_date = spark.read.parquet(tier).select("bucket_date").first()[0]
    pruned = spark.read.parquet(tier).filter(
        F.col("bucket_date").isin([some_date])
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket_date" in plan
    # and the pruned scan returns strictly fewer rows than the full tier
    assert pruned.count() < spark.read.parquet(tier).count()


def test_replayed_epoch_is_skipped(spark, tmp_path):
    """The effectively-once contract's idempotent-apply half: re-applying a
    micro-batch with an epoch id at or below the tier's _epoch.json
    watermark must change nothing (the crash-replay case ADVICE r2 flagged
    — foreachBatch re-delivers an epoch whose tier write already landed)."""
    tv = _tv(spark).cache()
    tier = str(tmp_path / "tier")
    assert ups.upsert_batch(spark, tv, tier, epoch_id=0) != []
    before = sorted(map(tuple, ups.read_tier_public(spark, tier).collect()))
    # replay the same epoch (and an older one): both must be skipped
    assert ups.upsert_batch(spark, tv, tier, epoch_id=0) == []
    assert ups.upsert_batch(spark, tv.limit(7), tier, epoch_id=-5) == []
    after = sorted(map(tuple, ups.read_tier_public(spark, tier).collect()))
    assert before == after
    # a NEW epoch still applies (double the input doubles the counts)
    assert ups.upsert_batch(spark, tv, tier, epoch_id=1) != []
    doubled = ups.read_tier_public(spark, tier)
    assert doubled.agg(F.sum("n_turns")).first()[0] == 2 * tv.count()


def test_partial_merge_is_algebraic(spark):
    """merge(partials of any split) == partials of the whole — the property
    that makes the stored tier upsertable."""
    tv = _tv(spark).cache()
    whole = ups.partial_1min(tv)
    a = ups.partial_1min(tv.filter(F.pmod("turn_idx", F.lit(2)) == 0))
    b = ups.partial_1min(tv.filter(F.pmod("turn_idx", F.lit(2)) == 1))
    merged = ups.merge_partials(a.unionByName(b))
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_cascade_crash_before_1min_commit_is_replayed(spark, tmp_path, monkeypatch):
    """The cascade commits 1h, then 1d, then 1min, each with the journaled
    swap under one epoch, so the 1min epoch record is its only commit
    point. Crash the second batch after both coarse tiers committed and
    the 1min tier wrote, but before its epoch record: the replay must roll
    the 1min write back, re-swap the coarse days, and converge every tier
    to the batch cascade; replaying the settled epoch again is a no-op."""
    tv = _tv(spark).cache()
    t1 = str(tmp_path / "t1min")
    dirs = {"1h": str(tmp_path / "t1h"), "1d": str(tmp_path / "t1d")}
    waves = [tv.filter(F.pmod("turn_idx", F.lit(2)) == w) for w in range(2)]
    ups.upsert_batch_cascade(spark, waves[0], t1, dirs, epoch_id=0)
    real_record = ups.txn.record_epoch

    def crash_on_1min(s, tier_dir, epoch_id):
        if tier_dir == t1:
            raise RuntimeError("injected crash before the 1min epoch record")
        real_record(s, tier_dir, epoch_id)

    monkeypatch.setattr(ups.txn, "record_epoch", crash_on_1min)
    with pytest.raises(RuntimeError, match="injected crash"):
        ups.upsert_batch_cascade(spark, waves[1], t1, dirs, epoch_id=1)
    monkeypatch.undo()
    # both coarse tiers committed epoch 1; the 1min tier did not
    epochs = [ups.txn.last_applied_epoch(spark, d) for d in (dirs["1h"], dirs["1d"], t1)]
    assert epochs == [1, 1, 0]
    # foreachBatch replays the same epoch after restart
    n = ups.upsert_batch_cascade(spark, waves[1], t1, dirs, epoch_id=1)
    assert n > 0
    exp_1m = rollup.temporal_bin(tv, "minute")
    exp_1h = rollup.tier_from_finer(exp_1m, "hour")
    exp_1d = rollup.tier_from_finer(exp_1h, "day")
    for path, exp in ((t1, exp_1m), (dirs["1h"], exp_1h), (dirs["1d"], exp_1d)):
        got = (
            ups.read_tier_public(spark, path)
            if path == t1
            else spark.read.parquet(path).drop("bucket_date")
        )
        assert got.exceptAll(exp).count() == 0, path
        assert exp.exceptAll(got).count() == 0, path
    # a second replay of the settled epoch is a complete no-op
    assert ups.upsert_batch_cascade(spark, waves[1], t1, dirs, epoch_id=1) == 0


def test_cascade_batch_job_count_and_file_layout(spark, tmp_path):
    """A late batch over an existing two-day tier runs at most 9 Spark
    jobs for all three tiers: the batch rows and the merge are each
    materialized once with their stats observed on the same job, 1h and
    1d each take one exchange, and the 1min rows are written as the merge
    clustered them. The clustering leaves one file per touched day in
    every tier."""
    import datetime as dt
    import os

    base = dt.datetime(2025, 3, 1, 20, 0)
    rows = [
        (f"c{i % 5}", i, base + dt.timedelta(minutes=7 * i), float(i % 11))
        for i in range(120)  # 14 h: two days
    ]
    tv = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, value double"
    )
    late = F.col("turn_idx") % 3 == 0
    t1 = str(tmp_path / "t1min")
    dirs = {"1h": str(tmp_path / "t1h"), "1d": str(tmp_path / "t1d")}
    ups.upsert_batch_cascade(spark, tv.filter(~late), t1, dirs, epoch_id=0)
    sc = spark.sparkContext
    sc.setJobGroup("late-batch", "second cascade batch")
    try:
        n = ups.upsert_batch_cascade(spark, tv.filter(late), t1, dirs, epoch_id=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n == 2
    jobs = sc.statusTracker().getJobIdsForGroup("late-batch")
    assert len(jobs) <= 9, len(jobs)
    for tier in (t1, *dirs.values()):
        day_dirs = sorted(d for d in os.listdir(tier) if d.startswith("bucket_date="))
        assert day_dirs == ["bucket_date=2025-03-01", "bucket_date=2025-03-02"], tier
        for d in day_dirs:
            files = [f for f in os.listdir(f"{tier}/{d}") if f.endswith(".parquet")]
            assert len(files) == 1, (tier, d, files)
    exp_1m = rollup.temporal_bin(tv, "minute")
    exp_1h = rollup.tier_from_finer(exp_1m, "hour")
    got = spark.read.parquet(dirs["1d"]).drop("bucket_date")
    exp = rollup.tier_from_finer(exp_1h, "day")
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0
