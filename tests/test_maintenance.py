"""Retention drop + compaction: partition-level ops, content-preserving."""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import functions as F

from aisdb_spark import checkpoint, maintenance
from aisdb_spark.sources.transcripts import load_transcripts, with_value
from tests.conftest import SF_SMALL


def _cascade(spark, tmp_path):
    tv = with_value(load_transcripts(spark, SF_SMALL))
    base = str(tmp_path / "tiers")
    checkpoint.materialize_cascade(spark, tv, base)
    return tv, base


def test_retention_drops_old_partitions_per_tier(spark, tmp_path):
    tv, base = _cascade(spark, tmp_path)
    dirs = {t: os.path.join(base, t) for t in ("1min", "1h", "1d")}
    parts = maintenance._date_partitions(dirs["1min"])
    assert len(parts) >= 3, "fixture should span several days"
    dates = [d for d, _ in parts]
    mid = dates[len(dates) // 2]
    # tiered horizons: fine tier keeps least, coarse keeps everything
    cutoffs = {"1min": mid, "1h": dates[0], "1d": dates[0]}
    dropped = maintenance.enforce_retention(dirs, cutoffs)
    assert dropped["1min"] == [str(d) for d in dates if d < mid]
    assert dropped["1h"] == [] and dropped["1d"] == []
    kept = {d for d, _ in maintenance._date_partitions(dirs["1min"])}
    assert kept == {d for d in dates if d >= mid}
    # survivors still equal the batch rollup restricted to the kept range
    from aisdb_spark.operators import rollup

    got = spark.read.parquet(dirs["1min"]).drop("bucket_date")
    exp = rollup.temporal_bin(tv, "minute").filter(
        F.to_date("bucket_start") >= F.lit(mid)
    )
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0
    # ledger recorded the drop
    with open(os.path.join(dirs["1min"], maintenance.LEDGER)) as f:
        log = json.load(f)
    assert log[-1]["action"] == "retention_drop"
    assert log[-1]["dropped_partitions"] == dropped["1min"]


def test_retention_is_idempotent(spark, tmp_path):
    _, base = _cascade(spark, tmp_path)
    dirs = {"1min": os.path.join(base, "1min")}
    dates = [d for d, _ in maintenance._date_partitions(dirs["1min"])]
    cut = {"1min": dates[1]}
    first = maintenance.enforce_retention(dirs, cut)
    again = maintenance.enforce_retention(dirs, cut)
    assert first["1min"] == [str(dates[0])]
    assert again["1min"] == []


def test_compaction_binpacks_and_preserves_content(spark, tmp_path):
    tv, base = _cascade(spark, tmp_path)
    tier = os.path.join(base, "1min")
    # fragment one partition the way many tiny upserts would
    d0, p0 = maintenance._date_partitions(tier)[0]
    frag = spark.read.parquet(p0).repartition(16).localCheckpoint(eager=True)
    frag.write.mode("overwrite").parquet(p0)
    n_before, _ = maintenance._partition_stats(p0)
    assert n_before >= 16
    before = spark.read.parquet(tier).drop("bucket_date").collect()
    report = maintenance.compact_tier(
        spark, tier, target_bytes=1 << 30, min_files_to_compact=4
    )
    assert report["compacted"] == 1
    assert report["actions"][0]["partition"] == str(d0)
    n_after, _ = maintenance._partition_stats(p0)
    assert n_after == 1  # 1GB target at fixture scale -> single file
    after = spark.read.parquet(tier).drop("bucket_date").collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    # second pass: nothing left to do
    assert maintenance.compact_tier(
        spark, tier, target_bytes=1 << 30, min_files_to_compact=4
    )["compacted"] == 0


def test_retention_and_compaction_on_file_uri(spark, tmp_path):
    """Round-5: maintenance on a URI-addressed tier (file:// drives the
    same Hadoop FileSystem branch hdfs:///s3a: would) — partition listing,
    retention drop, compaction stats, and the ledger all work where the
    old os/shutil paths were silent no-ops on URI strings."""
    import datetime as dt
    import json
    import os

    from pyspark.sql import functions as F

    from aisdb_spark.streaming import fsio

    local = str(tmp_path / "tier")
    tier = f"file://{local}"
    rows = [
        (i, dt.date(2025, 3, 1 + (i % 3)))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "id long, bucket_date date")
    # fragment each partition so compaction has work
    df.repartition(6).write.partitionBy("bucket_date").parquet(tier)
    assert len(maintenance._date_partitions(tier)) == 3
    n_files, nbytes = maintenance._partition_stats(
        f"{tier}/bucket_date=2025-03-01"
    )
    assert n_files >= 4 and nbytes > 0
    report = maintenance.compact_tier(
        spark, tier, target_bytes=10**9, min_files_to_compact=2
    )
    assert report["compacted"] == 3
    assert maintenance._partition_stats(f"{tier}/bucket_date=2025-03-01")[0] == 1
    dropped = maintenance.enforce_retention(
        {"1min": tier}, {"1min": dt.date(2025, 3, 2)}
    )
    assert dropped["1min"] == ["2025-03-01"]
    assert not os.path.isdir(f"{local}/bucket_date=2025-03-01")
    assert {d for d, _ in maintenance._date_partitions(tier)} == {
        dt.date(2025, 3, 2), dt.date(2025, 3, 3)
    }
    ledger = fsio.read_side_json(spark, tier, maintenance.LEDGER)
    assert [e["action"] for e in ledger] == ["compact", "retention_drop"]
    # rows outside the dropped partition survived intact
    assert spark.read.parquet(tier).count() == 20


def test_compaction_crash_rolls_back_on_rerun(spark, tmp_path):
    """A compaction whose write fails after Spark cleared its target must
    lose no row: the day was renamed into the swap's backup first, and
    the next run's recover puts it back before compacting again."""
    import pytest

    _, base = _cascade(spark, tmp_path)
    tier = os.path.join(base, "1min")
    _d0, p0 = maintenance._date_partitions(tier)[0]
    frag = spark.read.parquet(p0).repartition(16).localCheckpoint(eager=True)
    frag.write.mode("overwrite").parquet(p0)
    before = sorted(map(tuple, spark.read.parquet(tier).collect()))
    # an abstract committer class: the write job fails to instantiate it
    key = "spark.sql.parquet.output.committer.class"
    spark.conf.set(key, "org.apache.hadoop.mapreduce.OutputCommitter")
    try:
        with pytest.raises(Exception, match="InstantiationException"):
            maintenance.compact_tier(spark, tier, target_bytes=1 << 30)
    finally:
        spark.conf.unset(key)
    report = maintenance.compact_tier(spark, tier, target_bytes=1 << 30)
    after = sorted(map(tuple, spark.read.parquet(tier).collect()))
    assert (len(after), after == before) == (len(before), True)
    assert report["compacted"] == 1
    assert maintenance._partition_stats(p0)[0] == 1


def test_retention_after_crashed_swap_settles_it_first(spark, tmp_path, monkeypatch):
    """A streaming upsert crashed at the crash matrix's ``backup`` point
    leaves a journal and a backed-up day. Retention must settle that swap
    before it lists partitions: afterwards no journal or backup is left,
    and a later recover brings back no dropped day."""
    import pytest

    from aisdb_spark.streaming import fsio, txn, upsert

    tier = str(tmp_path / "1min")
    d1, d2 = dt.date(2025, 3, 1), dt.date(2025, 3, 2)
    turns = spark.createDataFrame(
        [
            ("a", 0, dt.datetime(2025, 3, 1, 10), 1.0, 0),
            ("a", 1, dt.datetime(2025, 3, 2, 10), 2.0, 0),
            ("b", 0, dt.datetime(2025, 3, 1, 11), 3.0, 1),
        ],
        "conv_id string, turn_idx int, ts timestamp, value double, wave int",
    )
    upsert.upsert_batch(spark, turns.filter("wave = 0"), tier, epoch_id=0)
    real_rename = fsio.rename

    def crash_after_first_rename(s, src, dst):
        out = real_rename(s, src, dst)
        if dst.startswith(f"{tier}/{txn.BACKUP}/"):
            raise RuntimeError("injected crash mid-backup")
        return out

    monkeypatch.setattr(fsio, "rename", crash_after_first_rename)
    with pytest.raises(RuntimeError, match="injected crash"):
        upsert.upsert_batch(spark, turns.filter("wave = 1"), tier, epoch_id=1)
    monkeypatch.undo()
    assert os.path.exists(f"{tier}/{txn.JOURNAL}")  # the crashed swap

    dropped = maintenance.enforce_retention({"1min": tier}, {"1min": d2})
    assert dropped["1min"] == [str(d1)]
    assert not os.path.exists(f"{tier}/{txn.JOURNAL}")
    assert not os.path.exists(f"{tier}/{txn.BACKUP}")
    txn.recover(spark, tier)
    assert [d for d, _ in maintenance._date_partitions(tier)] == [d2]
    assert spark.read.parquet(tier).count() == 1
