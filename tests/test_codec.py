"""Gorilla codec: bit-level round-trip identity (FIXTURES.md golden #4),
pure-python fuzz, the batch carry loop against the reference encoders,
and Spark end-to-end."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from aisdb_spark.operators.codec import (
    decode_ts,
    decode_vals,
    encode_ts,
    encode_vals,
)


def test_codec_fuzz_roundtrip():
    rng = np.random.default_rng(7)
    for trial in range(60):
        n = int(rng.integers(0, 400))
        base = int(rng.integers(1_600_000_000_000_000, 1_800_000_000_000_000))
        steps = np.abs(
            rng.choice([1_000_000, 60_000_000, 1], size=max(n - 1, 0))
            + rng.integers(-500, 500, size=max(n - 1, 0))
        ) + 1
        ts = (
            np.concatenate([[base], base + np.cumsum(steps)]).astype(np.int64)[:n]
            if n
            else np.empty(0, dtype=np.int64)
        )
        assert np.array_equal(decode_ts(encode_ts(ts)), ts)
        v = rng.standard_normal(n)
        if n > 4:
            v[::5] = np.inf
            v[1::7] = -0.0
            v[2::11] = v[1::11][: len(v[2::11])]  # repeats → '0' control bits
        got = decode_vals(encode_vals(v))
        assert np.array_equal(
            got.view(np.uint64), np.ascontiguousarray(v).view(np.uint64)
        )


def test_codec_compresses_regular_series():
    ts = np.arange(5000, dtype=np.int64) * 60_000_000 + 1_700_000_000_000_000
    rng = np.random.default_rng(1)
    v = np.round(np.cumsum(rng.standard_normal(5000))).astype(np.float64)
    assert 5000 * 8 / len(encode_ts(ts)) > 20  # dod stream ~1 bit/point
    assert 5000 * 8 / len(encode_vals(v)) > 3


def test_shard_encoder_byte_identical_to_reference_kernel():
    """The vectorized whole-shard encoder must produce byte-identical blobs
    to the per-conversation reference kernel (same wire format, same strict
    window-reuse policy), and decode back exactly."""
    import numpy as np

    from aisdb_spark.operators import codec as C

    rng = np.random.default_rng(7)
    sizes = [1, 2, 3, 5, 400, 67, 80]
    ts_list, vs_list = [], []
    for m in sizes:
        t0 = int(rng.integers(1_700_000_000_000_000, 1_710_000_000_000_000))
        t = t0 + np.cumsum(rng.integers(1, 300_000_000, m))
        if m > 10:
            t[m // 2:] += 1 << 40  # force 64-bit dod class
        v = rng.integers(10, 300, m).astype(np.float64)
        if m > 5:
            v[2:5] = v[1]      # xor-zero runs
            v[m // 2] = 1e300  # violent window change
        ts_list.append(t.astype(np.int64))
        vs_list.append(v)
    tcat, vcat = np.concatenate(ts_list), np.concatenate(vs_list)
    starts = np.zeros(len(sizes), np.int64)
    starts[1:] = np.cumsum(sizes)[:-1]
    ends = starts + np.array(sizes)
    tbs = C.encode_ts_shard(tcat, starts, ends)
    vbs = C.encode_vals_shard(vcat, starts, ends)
    for g in range(len(sizes)):
        assert tbs[g] == C.encode_ts(ts_list[g])
        assert vbs[g] == C.encode_vals(vs_list[g])
        assert np.array_equal(C.decode_ts(tbs[g]), ts_list[g])
        assert np.array_equal(C.decode_vals(vbs[g]), vs_list[g])


def test_encode_batches_blob_identical_to_reference():
    """The carry loop over Arrow batches of 1-40 rows emits, for every
    (conversation, chunk), exactly the reference encoders' blobs of that
    slice, whatever the batch cuts, and decodes back to the input."""
    from aisdb_spark.operators import codec as C

    rng = np.random.default_rng(11)
    sizes = [1, 1, 2, 3, 7, 40, 41, 130, 5, 1, 64, 9]
    conv = np.concatenate([[f"c{i:02d}"] * m for i, m in enumerate(sizes)])
    t = np.concatenate(
        [
            1_700_000_000_000_000 + np.cumsum(rng.integers(1, 300_000_000, m))
            for m in sizes
        ]
    ).astype(np.int64)
    t[200:] += 1 << 40  # a 64-bit dod class inside the 130-turn conversation
    v = rng.integers(10, 300, len(t)).astype(np.float64)
    v[50:60] = v[49]  # xor-zero runs
    v[::17] = np.inf
    v[5::23] = -0.0
    points = pa.table(
        {
            "conv_id": conv,
            "ts": pa.array(t.view("datetime64[us]")).cast(pa.timestamp("us", tz="UTC")),
            "value": v,
        }
    )
    for max_rows in (None, 1, 3, 7, 40):
        for _ in range(4):
            bounds = [0]
            while bounds[-1] < len(t):
                bounds.append(min(bounds[-1] + int(rng.integers(1, 41)), len(t)))
            batches = [
                points.slice(a, b - a).to_batches()[0]
                for a, b in zip(bounds[:-1], bounds[1:])
            ]
            enc = pa.Table.from_batches(
                list(C._encode_batches(iter(batches), max_rows)), C._ENC_ARROW
            )
            expect, start = [], 0
            for i, m in enumerate(sizes):
                step = max_rows or m
                for k, a in enumerate(range(start, start + m, step)):
                    b = min(a + step, start + m)
                    tb, vb = C.encode_ts(t[a:b]), C.encode_vals(v[a:b])
                    expect.append(
                        (f"c{i:02d}", k, b - a, tb, vb, 16 * (b - a), len(tb) + len(vb))
                    )
                start += m
            got = [tuple(r.values()) for r in enc.to_pylist()]
            assert got == expect, (max_rows, bounds)
            dec = pa.Table.from_batches(list(C._decode_batches(enc.to_batches())))
            assert dec.column("conv_id").to_pylist() == conv.tolist()
            assert np.array_equal(dec.column("ts").to_numpy().view(np.int64), t)
            assert np.array_equal(
                dec.column("value").to_numpy().view(np.uint64), v.view(np.uint64)
            )


def _points(synth):
    from aisdb_spark.operators import dedup
    from aisdb_spark.sources.transcripts import with_value

    tv = with_value(dedup.dedup_turns(synth)).filter(F.col("value").isNotNull())
    src = tv.select("conv_id", "ts", F.col("value").cast("double").alias("value"))
    return tv, src


def _same_rows(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_spark_roundtrip_identity(spark, synth):
    from aisdb_spark.operators import codec

    tv, src = _points(synth)
    enc = codec.compress(tv).cache()
    # one blob pair per conversation without max_rows
    assert enc.count() == tv.select("conv_id").distinct().count()
    assert enc.filter(F.col("chunk_id") != 0).count() == 0
    dec = codec.decompress(enc)
    assert dec.count() == src.count()
    assert _same_rows(dec, src)
    enc.unpersist()


def test_compress_partitions_zero_shuffle_identity(spark, synth):
    """Whole-conversation blobs carried across Arrow batches: with batches
    of 37 rows a conversation spans several batches, yet it still comes
    out as one blob (chunk_id 0) that decodes to the input."""
    from aisdb_spark.operators import codec

    tv, src = _points(synth)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "37")
    try:
        enc = codec.compress(tv).cache()
        assert enc.count() == tv.select("conv_id").distinct().count()
        assert enc.filter(F.col("chunk_id") != 0).count() == 0
        assert enc.agg(F.max("n_points")).collect()[0][0] > 37
        dec = codec.decompress(enc)
        assert _same_rows(dec, src)
        assert _same_rows(codec.roundtrip(tv), dec)
        enc.unpersist()
    finally:
        spark.conf.set(key, before)


def test_chunked_roundtrip_identity(spark, synth):
    """Oversized conversations are chunked inside the carry loop: with
    Arrow batches of 37 rows and chunks of at most 64 turns, the hot
    conversation (400 turns) spans batches and chunks, its chunk_ids run
    0, 1, 2, ... with no gap, and every route decodes to the input."""
    from aisdb_spark.operators import codec

    tv, src = _points(synth)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "37")
    try:
        enc = codec.compress(tv, max_rows=64).cache()
        hot = enc.filter(F.col("conv_id") == "syn-001").collect()
        n_hot = src.filter(F.col("conv_id") == "syn-001").count()
        assert n_hot > 5 * 64
        assert sorted(r["chunk_id"] for r in hot) == list(range(-(-n_hot // 64)))
        assert enc.agg(F.max("n_points")).collect()[0][0] <= 64
        dec = codec.decompress(enc)
        assert dec.count() == src.count()
        assert _same_rows(dec, src)
        assert _same_rows(codec.roundtrip(tv, 64), dec)
        enc.unpersist()
    finally:
        spark.conf.set(key, before)


def test_fused_roundtrips_equal_two_stage(spark, synth):
    """The fused encode→decode stage returns exactly the rows of the two
    stages it replaces, for whole conversations as well."""
    from aisdb_spark.operators import codec

    tv, _ = _points(synth)
    assert _same_rows(codec.roundtrip(tv), codec.decompress(codec.compress(tv)))
