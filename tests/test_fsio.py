"""fsio: the plain-path and Hadoop-FileSystem branches must be
observationally identical — every helper is dispatched on `has_scheme`,
so any behavioral gap between the two branches is a silent
production-vs-test divergence (tiers run on s3a://, tests on tmp paths).
file:// drives the exact Hadoop code path hdfs:///s3a: uses."""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aisdb_spark.streaming import fsio


def test_has_scheme_and_join():
    assert fsio.has_scheme("file:///x") and fsio.has_scheme("s3a://b/k")
    assert fsio.has_scheme("file:/x")
    assert not fsio.has_scheme("/plain/path") and not fsio.has_scheme("rel/path")
    assert fsio.join("s3a://b/t/", "bucket_date=2025-01-01") == (
        "s3a://b/t/bucket_date=2025-01-01"
    )
    assert fsio.join("/t", "a", "b") == "/t/a/b"


def test_session_for(spark, tmp_path):
    assert fsio.session_for(str(tmp_path)) is None
    assert fsio.session_for(f"file://{tmp_path}") is spark


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(payload=st.binary(min_size=0, max_size=4000), head=st.integers(1, 2048))
def test_read_head_branches_agree(spark, tmp_path, payload, head):
    """read_head(file://p) == read_head(p) == open(p).read(head) for any
    content/size — including head > file size (short read, no padding;
    the py4j byte[]-by-value trap this helper exists to avoid would show
    up here as zero bytes)."""
    p = tmp_path / "blob.bin"
    p.write_bytes(payload)
    want = payload[:head]
    assert fsio.read_head(None, str(p), head) == want
    assert fsio.read_head(spark, f"file://{p}", head) == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    doc=st.dictionaries(
        st.text(
            alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd")),
            min_size=1,
            max_size=8,
        ),
        st.one_of(st.integers(-(10**12), 10**12), st.text(max_size=20), st.none()),
        max_size=6,
    )
)
def test_side_json_roundtrip_both_branches(spark, tmp_path, doc):
    for tier in (str(tmp_path / "plain"), f"file://{tmp_path}/uri"):
        fsio.write_side_json_atomic(spark, tier, "_x.json", doc)
        assert fsio.read_side_json(spark, tier, "_x.json") == doc


def test_listing_walk_exists_delete_branches_agree(spark, tmp_path):
    base = tmp_path / "tree"
    (base / "sub").mkdir(parents=True)
    (base / "a.parquet").write_bytes(b"x" * 10)
    (base / "_side.json").write_text("{}")
    (base / "sub" / "b.parquet").write_bytes(b"y" * 20)
    plain, uri = str(base), f"file://{base}"

    le_p = sorted(fsio.list_entries(spark, plain))
    le_u = sorted(fsio.list_entries(spark, uri))
    assert le_p == le_u == [
        ("_side.json", 2, False),
        ("a.parquet", 10, False),
        ("sub", 0, True),
    ]

    wf_p = sorted((os.path.basename(p), s) for p, s in fsio.walk_files(spark, plain))
    wf_u = sorted((os.path.basename(p), s) for p, s in fsio.walk_files(spark, uri))
    assert wf_p == wf_u == [("_side.json", 2), ("a.parquet", 10), ("b.parquet", 20)]

    assert fsio.tier_nonempty(spark, plain) and fsio.tier_nonempty(spark, uri)
    assert fsio.exists(spark, uri) and fsio.exists(spark, plain)
    # missing paths: both branches answer [] / False, never raise
    gone = str(tmp_path / "nope")
    for p in (gone, f"file://{gone}"):
        assert fsio.list_entries(spark, p) == []
        assert fsio.walk_files(spark, p) == []
        assert not fsio.exists(spark, p)
        assert not fsio.tier_nonempty(spark, p)
        fsio.delete_dir(spark, p)  # missing-ok on both branches

    fsio.delete_dir(spark, f"file://{base}/sub")
    assert not (base / "sub").exists()
    fsio.delete_dir(spark, plain)
    assert not base.exists()


def test_rename_branches_agree(spark, tmp_path):
    for scheme in ("", "file://"):
        d = tmp_path / ("r_uri" if scheme else "r_plain")
        (d / "src").mkdir(parents=True)
        (d / "src" / "f.bin").write_bytes(b"z")
        src, dst = f"{scheme}{d}/src", f"{scheme}{d}/moved/here"
        assert fsio.rename(spark, src, dst)
        assert not (d / "src").exists() and (d / "moved" / "here" / "f.bin").exists()
        # missing source: False, no exception — recover() relies on this
        assert not fsio.rename(spark, f"{scheme}{d}/gone", f"{scheme}{d}/x")


def test_uri_without_session_fails_loudly(tmp_path, monkeypatch):
    """A URI path with no active session must raise, not silently no-op
    (the round-4 rmtree lesson). Simulated by patching getActiveSession —
    stopping the shared session would poison the test process."""
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "getActiveSession", classmethod(lambda cls: None))
    with pytest.raises(RuntimeError, match="active SparkSession"):
        fsio.session_for("s3a://bucket/tier")
    assert fsio.session_for(str(tmp_path)) is None  # plain path: still fine


def test_has_scheme_single_slash_uris():
    # r5 ADVICE: legal single-slash Hadoop URIs must route to the FS
    # client, not the os/shutil branch (silent local no-op class)
    from aisdb_spark.streaming import fsio

    assert fsio.has_scheme("hdfs:/tier")
    assert fsio.has_scheme("s3a:/bucket/x")
    assert fsio.has_scheme("file:/tmp/x")
    assert fsio.has_scheme("file:///tmp/x")
    assert not fsio.has_scheme("/plain/local/path")
    assert not fsio.has_scheme("relative/path")


def test_scratch_dirs_removed_at_exit(tmp_path):
    """Every scratch dir a process takes is gone once it exits, contents
    included — they sit on tmpfs by default, which is RAM."""
    import subprocess
    import sys

    base = tmp_path / "scratch"
    code = (
        "from aisdb_spark.streaming import fsio\n"
        "for p in ('a_', 'b_'):\n"
        "    d = fsio.scratch_dir(p)\n"
        "    open(d + '/part.parquet', 'w').write('x')\n"
        "    print(d)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True,
        env={**os.environ, "SPARK_GRAFT_SCRATCH": str(base)},
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ).stdout.split()
    assert len(out) == 2 and all(p.startswith(str(base)) for p in out)
    assert os.listdir(base) == []
