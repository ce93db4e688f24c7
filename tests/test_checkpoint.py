"""Checkpoint/resume: idempotent tiered materialization (SURVEY.md §7 (c):
overwrite-by-partition, resume to identical output) + salted-aggregation
equivalence and group capping."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from aisdb_spark import checkpoint
from aisdb_spark.operators import dedup, rollup
from aisdb_spark.plans import partitioning
from aisdb_spark.sources.transcripts import with_value


def _tv(synth):
    return with_value(dedup.dedup_turns(synth))


def test_cascade_materialize_and_resume(spark, synth, tmp_path):
    tv = _tv(synth)
    base = str(tmp_path / "tiers")
    first = checkpoint.materialize_cascade(spark, tv, base)
    assert set(first) == {"1min", "1h", "1d"}
    assert all(not m.get("skipped") for m in first.values())
    # at fixture size the file-count rule gives one parquet file per day
    for tier in first:
        days = [d for d in os.listdir(f"{base}/{tier}") if d.startswith("bucket_date=")]
        assert days
        for d in days:
            files = os.listdir(f"{base}/{tier}/{d}")
            assert len([f for f in files if f.endswith(".parquet")]) == 1, (tier, d, files)

    # second run with identical input: all tiers skipped, nothing rewritten
    second = checkpoint.materialize_cascade(spark, tv, base)
    assert all(m.get("skipped") for m in second.values())

    # kill-and-resume: drop one tier, rerun → only that tier rebuilt,
    # output identical to a clean run
    snapshot_1h = spark.read.parquet(f"{base}/1h").drop("bucket_date")
    rows_before = snapshot_1h.collect()
    shutil.rmtree(f"{base}/1h")
    third = checkpoint.materialize_cascade(spark, tv, base)
    assert third["1min"].get("skipped")
    assert not third["1h"].get("skipped")
    after = spark.read.parquet(f"{base}/1h").drop("bucket_date")
    assert sorted(map(str, rows_before)) == sorted(map(str, after.collect()))

    # changed input (one conversation dropped) → fingerprint mismatch → rebuild
    tv2 = tv.filter(F.col("conv_id") != "syn-001")
    fourth = checkpoint.materialize_cascade(spark, tv2, base)
    assert all(not m.get("skipped") for m in fourth.values())


def test_cascade_materialize_on_file_uri(spark, synth, tmp_path):
    """Round-5: a URI-addressed tier base (file:// drives the same Hadoop
    FileSystem branch hdfs:///s3a: would) — manifest write/read, the
    recursive bytes walk, and resume-skip all work where the old
    open()/os.walk paths silently failed on URI strings."""
    import os

    tv = _tv(synth)
    local = str(tmp_path / "tiers_uri")
    base = f"file://{local}"
    first = checkpoint.materialize_cascade(spark, tv, base)
    assert set(first) == {"1min", "1h", "1d"}
    assert all(not m.get("skipped") for m in first.values())
    assert all(m["bytes"] > 0 and m["rows"] > 0 for m in first.values())
    # the manifest landed beside the tier data (written via the FS client)
    assert os.path.exists(f"{local}/1h/{checkpoint.MANIFEST}")

    second = checkpoint.materialize_cascade(spark, tv, base)
    assert all(m.get("skipped") for m in second.values())

    # URI tier matches the plain-path cascade byte-for-byte
    plain = str(tmp_path / "tiers_plain")
    checkpoint.materialize_cascade(spark, tv, plain)
    a = spark.read.parquet(f"{base}/1d").drop("bucket_date")
    b = spark.read.parquet(f"{plain}/1d").drop("bucket_date")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_tier_matches_direct_aggregation(spark, synth, tmp_path):
    tv = _tv(synth)
    base = str(tmp_path / "t2")
    checkpoint.materialize_cascade(spark, tv, base)
    got = spark.read.parquet(f"{base}/1d").drop("bucket_date")
    want = rollup.temporal_bin(tv, "day")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_salted_rollup_equivalence(spark, synth):
    """Salted two-phase aggregation must equal the direct rollup — the skew
    path cannot change results (byte-match discipline)."""
    tv = _tv(synth)
    direct = rollup.temporal_bin(tv, "hour")
    salted = partitioning.with_salt(tv, salt_buckets=4, chunk_rows=16)
    partial = salted.groupBy(
        "conv_id", "salt", F.date_trunc("hour", "ts").alias("bucket_start")
    ).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.min("turn_idx").alias("_first_idx"),
        F.min_by("value", "turn_idx").alias("first_value"),
        F.max("turn_idx").alias("_last_idx"),
        F.max_by("value", "turn_idx").alias("last_value"),
    )
    merged = partial.groupBy("conv_id", "bucket_start").agg(
        F.sum("n_turns").alias("n_turns"),
        F.sum("sum_value").alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
        F.min_by("first_value", "_first_idx").alias("first_value"),
        F.max_by("last_value", "_last_idx").alias("last_value"),
    )
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0


def test_cascade_partition_invariance(spark, synth):
    """Byte-match across parallelism: the cascade output is identical no
    matter how the input is partitioned (the north rule's two-cluster-size
    correctness invariant, testable within one session)."""
    tv = _tv(synth)
    a = rollup.rollup_cascade(tv.repartition(3, "conv_id"))["1d"]
    b = rollup.rollup_cascade(tv.repartition(31))["1d"]  # round-robin, 31 parts
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
