"""The per-entity route (plans/per_entity.py): the carry loop hands every
conversation whole to exactly one batch kernel call, in order, whatever
the Arrow batch cuts — checked without a JVM over random batch cuts, and
through Spark at 37-row Arrow batches against the DuckDB oracles."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from aisdb_spark.plans import per_entity

SIZES = [1, 2, 3, 7, 40, 41, 90, 5, 1, 64, 9, 2]
NONE_CONVS = {"c01", "c02", "c06", "c11"}  # no output rows


def _sorted_table() -> pa.Table:
    rng = np.random.default_rng(5)
    conv = np.concatenate([[f"c{i:02d}"] * m for i, m in enumerate(SIZES)])
    turn = np.concatenate([np.arange(m, dtype=np.int32) for m in SIZES])
    t = 1_700_000_000_000_000 + np.cumsum(rng.integers(1, 10**8, len(conv)))
    return pa.table(
        {
            "conv_id": conv,
            "turn_idx": turn,
            "ts": pa.array(t.view("datetime64[us]")).cast(pa.timestamp("us", tz="UTC")),
            "value": rng.integers(0, 500, len(conv)),
        }
    )


def _kernel(seen: list, calls: list):
    """A batch kernel that records each call's conversations and returns
    the per-conversation running sum of ``value``, minus NONE_CONVS: None
    when a call keeps no row and its first conversation is odd-numbered,
    else the (maybe empty) columns."""

    def kernel(rb: pa.RecordBatch, starts: np.ndarray) -> dict | None:
        conv = rb.column("conv_id").to_numpy(zero_copy_only=False)
        turn = rb.column("turn_idx").to_pylist()
        ends = np.append(starts[1:], rb.num_rows)
        calls.append([conv[a] for a in starts])
        for a, b in zip(starts, ends):
            assert (conv[a:b] == conv[a]).all()
            seen.append((conv[a], turn[a:b]))
        v = rb.column("value").to_numpy()
        csum = np.concatenate([np.cumsum(v[a:b]) for a, b in zip(starts, ends)])
        keep = ~np.isin(conv, list(NONE_CONVS))
        if not keep.any() and int(conv[0][1:]) % 2:
            return None
        return {**per_entity.columns(rb, keep), "csum": csum[keep]}

    return kernel


OUT = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("value", pa.int64()),
        ("csum", pa.int64()),
    ]
)


def _cuts(rng, n: int) -> list[int]:
    bounds = [0]
    while bounds[-1] < n:
        bounds.append(min(bounds[-1] + int(rng.integers(1, 41)), n))
    return bounds


def test_apply_batches_whole_conversations_once():
    """Random 1-40-row batch cuts, plus one cut per conversation (so some
    cut batches hold only NONE_CONVS): every conversation reaches exactly
    one kernel call, whole and in turn order, the calls see them in order,
    a call whose output is None or empty yields nothing, and the output
    equals a pandas groupby reference."""
    table = _sorted_table()
    pdf = table.to_pandas()
    ref = pd.concat(
        [
            g.assign(csum=g["value"].cumsum())
            for c, g in pdf.groupby("conv_id", sort=True)
            if c not in NONE_CONVS
        ],
        ignore_index=True,
    )
    whole = [(f"c{i:02d}", list(range(m))) for i, m in enumerate(SIZES)]
    rng = np.random.default_rng(3)
    per_conv = np.cumsum([0, *SIZES]).tolist()
    for bounds in [*(_cuts(rng, table.num_rows) for _ in range(8)), per_conv]:
        batches = [
            table.slice(a, b - a).to_batches()[0] for a, b in zip(bounds[:-1], bounds[1:])
        ]
        seen: list = []
        calls: list = []
        outs = list(per_entity._apply_batches(iter(batches), _kernel(seen, calls), OUT))
        assert seen == whole
        assert sum(calls, []) == [c for c, _ in whole]
        assert all(o.num_rows for o in outs)
        assert len(outs) == sum(not set(c) <= NONE_CONVS for c in calls)
        got = pa.Table.from_batches(outs, OUT).to_pandas()
        pd.testing.assert_frame_equal(got, ref, check_dtype=False)
    # one-conversation cuts: c01, c02, c06 and c11 each get a call of their
    # own, c01 and c11 return None, c02 and c06 empty columns
    assert [c for c in calls if set(c) <= NONE_CONVS] == [["c01"], ["c02"], ["c06"], ["c11"]]
    assert len(outs) == len(SIZES) - len(NONE_CONVS)


# ---------------------------------------------------------------------------
# Spark: each ported operator at 37-row Arrow batches, against its oracle
# ---------------------------------------------------------------------------

# registry builders (the undecorated functions, so no cached plan): each
# calls its operator directly on sf0.01
BUILDERS = {
    "ewma_03": "ewma_03",
    "interp_cubic_spline": "interp_cubic_spline_q",
    "lttb_64": "lttb_64",
    "vw_decimate": "vw_decimate_q",
    "encode_pathways": "encode_pathways_q",
    "pipeline_canonical": "pipeline_canonical",
}


@pytest.fixture
def batches_of_37(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "37")
    try:
        yield spark
    finally:
        spark.conf.set(key, before)


@pytest.mark.parametrize("name", sorted(BUILDERS))
def test_operator_carries_conversations_across_batches(batches_of_37, name):
    from pyspark.sql import functions as F

    from aisdb_spark import queries
    from tests.conftest import SF_ORACLE
    from tests.oracle import compare

    spark = batches_of_37
    hot = queries._tv(spark, SF_ORACLE).groupBy("conv_id").count()
    assert hot.agg(F.max("count")).collect()[0][0] > 37
    compare(getattr(queries, BUILDERS[name])(spark, SF_ORACLE), queries.ORACLES[name], SF_ORACLE)


def test_interp_time_carries_conversations_across_batches(batches_of_37):
    from aisdb_spark.operators import interp, segmentation
    from aisdb_spark.queries import _tv
    from tests.conftest import SF_ORACLE

    segd = segmentation.gap_split(_tv(batches_of_37, SF_ORACLE), gap_seconds=3600)
    a = interp.interp_time_expr(segd, 600)
    b = interp.interp_time(segd, 600)
    assert a.count() == b.count() > 0
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
