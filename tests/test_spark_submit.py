"""Packaging test: the cascade job runs under real spark-submit with
--py-files (the north-rule deployment surface)."""

from __future__ import annotations

import json
import os
import subprocess

import pyspark

from aisdb_spark.dist import package_zip
from tests.conftest import SF_SMALL

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_py_files(tmp_path):
    spark_submit = os.path.join(
        os.path.dirname(pyspark.__file__), "bin", "spark-submit"
    )
    assert os.path.exists(spark_submit)
    zip_path = package_zip(str(tmp_path / "aisdb_spark.zip"))
    out_dir = str(tmp_path / "tiers")
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR="/dev/shm/spark-local-submit")
    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.sql.session.timeZone=UTC",
            "--conf", "spark.sql.parquet.inferTimestampNTZ.enabled=false",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            "jobs/run_cascade.py",
            "--input", SF_SMALL,
            "--output", out_dir,
            "--retention-keep-days", "1min=2,1h=3650,1d=3650",
            "--compact-target-mb", "256",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=ROOT,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result["tiers"]) == {"1min", "1h", "1d"}
    assert result["codec"]["points"] == 1000  # sf0.001 events rows
    assert result["codec"]["ratio"] > 1.0
    for tier in ("1min", "1h", "1d"):
        assert os.path.exists(os.path.join(out_dir, tier, "_tier_manifest.json"))
    # maintenance stage ran: 2-day horizon trims the 1min tier, the
    # 10-year horizons keep 1h/1d whole
    ret = result["maintenance"]["retention"]
    assert len(ret["1min"]) >= 1
    assert ret["1h"] == [] and ret["1d"] == []
    kept = [
        d for d in os.listdir(os.path.join(out_dir, "1min"))
        if d.startswith("bucket_date=")
    ]
    assert len(kept) == 2


def test_spark_submit_upsert_stream(spark, tmp_path):
    """The streaming upsert job under real spark-submit --py-files: two
    drains (the second sees only the late wave), tiers converge to the
    batch cascade of the full input."""
    import pyspark
    from pyspark.sql import functions as F

    from aisdb_spark.operators import rollup
    from aisdb_spark.sources.transcripts import load_transcripts, with_value

    spark_submit = os.path.join(
        os.path.dirname(pyspark.__file__), "bin", "spark-submit"
    )
    zip_path = package_zip(str(tmp_path / "aisdb_spark.zip"))
    landing = str(tmp_path / "landing")
    tiers = str(tmp_path / "tiers")
    ck = str(tmp_path / "ck")
    tv = with_value(load_transcripts(spark, SF_SMALL)).select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "ts",
        "value",
    ).cache()

    def submit():
        env = dict(
            os.environ, SPARK_GRAFT_LOCAL_DIR="/dev/shm/spark-local-upsert"
        )
        proc = subprocess.run(
            [
                spark_submit,
                "--master", "local[4]",
                "--conf", "spark.sql.shuffle.partitions=8",
                "--conf", "spark.sql.session.timeZone=UTC",
                "--conf", "spark.ui.enabled=false",
                "--py-files", zip_path,
                "jobs/run_upsert_stream.py",
                "--landing", landing,
                "--tiers", tiers,
                "--checkpoint", ck,
                "--once",
            ],
            capture_output=True, text=True, timeout=420, cwd=ROOT,
            env=env,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    tv.filter(F.pmod("turn_idx", F.lit(2)) == 0).write.parquet(f"{landing}/w1")
    first = submit()
    assert first["batches"] >= 1
    tv.filter(F.pmod("turn_idx", F.lit(2)) == 1).write.parquet(f"{landing}/w2")
    second = submit()
    assert second["batches"] >= 1
    exp_1m = rollup.temporal_bin(tv, "minute")
    got_1m = spark.read.parquet(f"{tiers}/1min").select(*exp_1m.columns)
    assert got_1m.exceptAll(exp_1m).count() == 0
    assert exp_1m.exceptAll(got_1m).count() == 0
    exp_1d = rollup.tier_from_finer(
        rollup.tier_from_finer(exp_1m, "hour"), "day"
    )
    got_1d = spark.read.parquet(f"{tiers}/1d").select(*exp_1d.columns)
    assert got_1d.exceptAll(exp_1d).count() == 0
    assert exp_1d.exceptAll(got_1d).count() == 0


def test_upsert_stream_once_counts_uri_tier(spark, tmp_path):
    """``--once`` against a ``file://`` tiers root reports the rows it
    wrote: the count checks the tier through fsio, which resolves the
    URI, not through a local-directory test that reads 0 on any URI."""
    from pyspark.sql import functions as F

    from aisdb_spark.sources.transcripts import load_transcripts, with_value

    spark_submit = os.path.join(
        os.path.dirname(pyspark.__file__), "bin", "spark-submit"
    )
    zip_path = package_zip(str(tmp_path / "aisdb_spark.zip"))
    landing = str(tmp_path / "landing")
    tv = with_value(load_transcripts(spark, SF_SMALL)).select(
        "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"), "ts", "value"
    )
    tv.coalesce(1).write.parquet(f"{landing}/w1")  # one landing file
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR="/dev/shm/spark-local-upsert-uri")
    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.sql.session.timeZone=UTC",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            "jobs/run_upsert_stream.py",
            "--landing", landing,
            "--tiers", f"file://{tmp_path}/tiers",
            "--checkpoint", str(tmp_path / "ck"),
            "--once",
        ],
        capture_output=True, text=True, timeout=420, cwd=ROOT, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["batches"] == 1
    assert result["tier_1min_rows"] == spark.read.parquet(f"{tmp_path}/tiers/1min").count() > 0
