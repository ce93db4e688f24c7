"""The batch kernels of the per-entity route, bit for bit against the
per-conversation arithmetic they replace — no JVM.

Each ``_ref_*`` below is a kernel as it ran once per whole conversation on
a pandas frame; the batch kernels run once per Arrow batch over all its
conversations. Over random ragged batches (conversations of 1, 2, 3,
``n_out`` and ``n_out + 1`` rows, duplicate timestamps, segments of fewer
than 3 points, segment ids that recur non-contiguously, one hot
conversation) both must give the same rows and the same float bits."""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from aisdb_spark.operators import downsample, encoder, interp

STEP_US = 600 * 1_000_000
N_OUT = 8
TS = pa.timestamp("us", tz="UTC")


# ---------------------------------------------------------------------------
# the per-conversation kernels, as they were
# ---------------------------------------------------------------------------


def _ref_ewma(pdf, alpha=0.3):
    return pdf.assign(
        ewma_value=pdf["value"].astype("float64").ewm(alpha=alpha, adjust=True).mean()
    )


def _ref_lttb(pdf, n_out):
    m = len(pdf)
    if m <= n_out:
        return pdf
    us = pdf["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
    x = (us - us.min()) // 1000
    y = pdf["value"].to_numpy(dtype=np.int64)
    j = np.arange(n_out - 1, dtype=np.int64)
    bounds = 1 + (j * (m - 2)) // (n_out - 2)
    ext = np.append(bounds, m)
    keep = [0]
    a = 0
    for i in range(n_out - 2):
        lo, hi = int(bounds[i]), int(bounds[i + 1])
        nlo, nhi = int(ext[i + 1]), int(ext[i + 2])
        n = nhi - nlo
        cxs = x[nlo:nhi].sum()
        cys = y[nlo:nhi].sum()
        area = np.abs(
            (n * x[a] - cxs) * (y[lo:hi] - y[a]) - (x[a] - x[lo:hi]) * (cys - n * y[a])
        )
        a = lo + int(np.argmax(area))
        keep.append(a)
    keep.append(m - 1)
    return pdf.iloc[sorted(set(keep))]


def _ref_vw(pdf, min_area2):
    m = len(pdf)
    if m <= 2:
        return pdf
    us = pdf["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
    x = (us - us.min()) // 1000
    y = pdf["value"].to_numpy(dtype=np.int64)
    prev = np.arange(-1, m - 1)
    nxt = np.arange(1, m + 1)
    alive = np.ones(m, dtype=bool)
    ver = np.zeros(m, dtype=np.int64)

    def area2(i):
        a, c = prev[i], nxt[i]
        return abs(int(x[i] - x[a]) * int(y[c] - y[a]) - int(x[c] - x[a]) * int(y[i] - y[a]))

    heap = [(area2(i), i, 0) for i in range(1, m - 1)]
    heapq.heapify(heap)
    while heap:
        ar, i, v = heapq.heappop(heap)
        if not alive[i] or v != ver[i]:
            continue
        if ar >= min_area2:
            break
        alive[i] = False
        p, nx = int(prev[i]), int(nxt[i])
        nxt[p], prev[nx] = nx, p
        for j in (p, nx):
            if 0 < j < m - 1 and alive[j]:
                ver[j] += 1
                heapq.heappush(heap, (area2(j), j, int(ver[j])))
    return pdf.iloc[np.flatnonzero(alive)]


def _ref_encode(pdf, **params):
    t = pdf["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
    return pdf.assign(pathway_id=encoder._encode_conv(t, pdf["value"].to_numpy(), **params))


def _ref_grid_interp(t, v, step_us):
    grid = np.arange(t[0], t[-1] + step_us, step_us, dtype=np.int64)
    idx = np.clip(np.searchsorted(t, grid, side="right") - 1, 0, len(t) - 1)
    nxt = np.clip(idx + 1, 0, len(t) - 1)
    prev_t, next_t = t[idx], t[nxt]
    prev_v, next_v = v[idx], v[nxt]
    dt = next_t - prev_t
    safe_dt = np.where(dt == 0, 1, dt)
    out = prev_v + (next_v - prev_v) * (grid - prev_t) / safe_dt
    return grid, np.where(dt == 0, prev_v, out)


def _ref_spline_coeffs(x, y):
    n = len(x) - 1
    h = np.diff(x)
    alpha = np.zeros(n + 1)
    alpha[1:n] = 3.0 * (y[2:] - y[1:-1]) / h[1:] - 3.0 * (y[1:-1] - y[:-2]) / h[:-1]
    l = np.ones(n + 1)
    mu = np.zeros(n + 1)
    z = np.zeros(n + 1)
    for i in range(1, n):
        l[i] = 2.0 * (x[i + 1] - x[i - 1]) - h[i - 1] * mu[i - 1]
        mu[i] = h[i] / l[i]
        z[i] = (alpha[i] - h[i - 1] * z[i - 1]) / l[i]
    c = np.zeros(n + 1)
    b = np.zeros(n)
    d = np.zeros(n)
    for j in range(n - 1, -1, -1):
        c[j] = z[j] - mu[j] * c[j + 1]
        b[j] = (y[j + 1] - y[j]) / h[j] - h[j] * (c[j + 1] + 2.0 * c[j]) / 3.0
        d[j] = (c[j + 1] - c[j]) / (3.0 * h[j])
    return b, c[:-1], d


def _ref_spline(t, v, step_us):
    x = (t - t[0]).astype(np.float64)
    b, c, d = _ref_spline_coeffs(x, v)
    grid = np.arange(t[0], t[-1] + step_us, step_us, dtype=np.int64)
    gx = (grid - t[0]).astype(np.float64)
    j = np.clip(np.searchsorted(x, gx, side="right") - 1, 0, len(x) - 2)
    dx = gx - x[j]
    dx2 = dx * dx
    out = v[j] + b[j] * dx + c[j] * dx2 + d[j] * (dx2 * dx)
    return grid, np.where(gx > x[-1], v[-1], out)


def _ref_resample(pdf, fn, min_len):
    seg_all = pdf["segment_id"].to_numpy(dtype=np.int32)
    t_all = pdf["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
    v_all = pdf["value"].to_numpy(dtype=np.float64)
    grids, vals, segs = [], [], []
    for s in np.unique(seg_all):
        m = seg_all == s
        t, v = t_all[m], v_all[m]
        keep = np.append(t[1:] != t[:-1], True)
        t, v = t[keep], v[keep]
        if len(t) < min_len:
            continue
        grid, out = fn(t, v, STEP_US)
        grids.append(grid)
        vals.append(out)
        segs.append(np.full(len(grid), s, dtype=np.int32))
    if not grids:
        return None
    return pd.DataFrame(
        {
            "conv_id": pdf["conv_id"].iloc[0],
            "segment_id": np.concatenate(segs),
            "ts": pd.to_datetime(np.concatenate(grids), unit="us", utc=True),
            "value": np.concatenate(vals),
        }
    )


# ---------------------------------------------------------------------------
# random ragged batches
# ---------------------------------------------------------------------------

SPECIAL = [1, 2, 3, N_OUT, N_OUT + 1, 64, 65]


def _batch(rng, sizes, by_ts: bool) -> pa.RecordBatch:
    """Whole conversations of ``sizes`` rows, sorted by (ts, turn_idx) or
    by turn_idx: duplicate timestamps, gaps, and segment ids that recur
    non-contiguously along ts."""
    parts = []
    for i, m in enumerate(sizes):
        step = rng.choice([0, 1, 30, 200, 900, 4000], size=m, p=[0.1, 0.1, 0.3, 0.3, 0.1, 0.1])
        jitter = rng.integers(0, 999, m) * (step > 0)  # step 0: a duplicate ts
        t = 1_700_000_000_000_000 + np.cumsum(step * 1_000_000 + jitter)
        turn = rng.permutation(m) if by_ts else np.arange(m)
        seg = np.cumsum(rng.random(m) < 0.15)
        recur = rng.random(m) < 0.05
        seg[recur] = rng.integers(0, seg.max() + 1, recur.sum())
        value = rng.integers(-500, 500, m) * rng.choice([1, 1, 1, 10**6], m)
        if by_ts:
            o = np.lexsort((turn, t))
        else:
            t = t[rng.permutation(m)] if rng.random() < 0.3 else t  # ts not monotone in turns
            o = np.arange(m)
        parts.append(
            pd.DataFrame(
                {
                    "conv_id": f"c{i:03d}",
                    "segment_id": seg[o].astype(np.int32),
                    "turn_idx": turn[o].astype(np.int32),
                    "ts": t[o],
                    "value": value[o],
                }
            )
        )
    pdf = pd.concat(parts, ignore_index=True)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(pdf["conv_id"]),
            pa.array(pdf["segment_id"], pa.int32()),
            pa.array(pdf["turn_idx"], pa.int32()),
            pa.array(pdf["ts"]).cast(TS),
            pa.array(pdf["value"], pa.int64()),
        ],
        names=["conv_id", "segment_id", "turn_idx", "ts", "value"],
    )


def _batches(by_ts: bool):
    rng = np.random.default_rng(11)
    yield _batch(rng, SPECIAL, by_ts)
    for _ in range(6):
        yield _batch(rng, rng.choice([*SPECIAL, *rng.integers(1, 120, 20)], 30), by_ts)
    yield _batch(rng, [3000], by_ts)  # one hot conversation
    yield _batch(rng, [2, 1, 2], by_ts)  # no segment of 3 distinct ts


def _starts(rb: pa.RecordBatch) -> np.ndarray:
    key = rb.column(0).to_numpy(zero_copy_only=False)
    return np.flatnonzero(np.append(True, key[1:] != key[:-1]))


def _run(kernel, ref, rb: pa.RecordBatch, schema: pa.Schema, **params):
    """(batch kernel output, per-conversation reference), as frames."""
    starts = _starts(rb)
    cols = kernel(rb, starts, **params)
    got = None if cols is None else pa.RecordBatch.from_pydict(cols, schema=schema).to_pandas()
    pdf = rb.to_pandas()
    outs = [ref(pdf.iloc[a:b]) for a, b in zip(starts, np.append(starts[1:], len(pdf)))]
    outs = [o for o in outs if o is not None]
    exp = pd.concat(outs, ignore_index=True)[list(schema.names)] if outs else None
    return got, exp


def _assert_bit_equal(got: pd.DataFrame | None, exp: pd.DataFrame | None):
    if exp is None:
        assert got is None or got.empty
        return
    assert list(got.columns) == list(exp.columns) and len(got) == len(exp)
    for c in got.columns:
        g, e = got[c].to_numpy(), exp[c].to_numpy()
        if g.dtype == np.float64:
            assert np.array_equal(g.view(np.int64), e.astype(np.float64).view(np.int64)), c
        else:
            assert (g == e).all(), c


ROWS = pa.schema(
    [("conv_id", pa.string()), ("turn_idx", pa.int32()), ("ts", TS), ("value", pa.int64())]
)
INTERP = pa.schema(
    [("conv_id", pa.string()), ("segment_id", pa.int32()), ("ts", TS), ("value", pa.float64())]
)


@pytest.mark.parametrize("by_ts", [False, True])
def test_ewma_bit_equal(by_ts):
    schema = pa.schema([*ROWS, ("ewma_value", pa.float64())])
    for rb in _batches(by_ts):
        rb = rb.drop_columns(["segment_id"])
        _assert_bit_equal(*_run(interp._ewma_kernel, _ref_ewma, rb, schema, alpha=0.3))


@pytest.mark.parametrize("n_out", [N_OUT, 64])
def test_lttb_bit_equal(n_out):
    for rb in _batches(False):
        rb = rb.drop_columns(["segment_id"])
        got, exp = _run(
            downsample._lttb_kernel, lambda p: _ref_lttb(p, n_out), rb, ROWS, n_out=n_out
        )
        _assert_bit_equal(got, exp)


def test_lttb_ties_break_to_lowest_row():
    """Collinear points tie every bucket's area at 0: the first row wins."""
    m = 40
    rb = pa.RecordBatch.from_pydict(
        {
            "conv_id": ["a"] * m,
            "turn_idx": np.arange(m, dtype=np.int32),
            "ts": 1_700_000_000_000_000 + np.arange(m) * 1_000_000,
            "value": np.zeros(m, np.int64),
        },
        schema=ROWS,
    )
    got, exp = _run(downsample._lttb_kernel, lambda p: _ref_lttb(p, N_OUT), rb, ROWS, n_out=N_OUT)
    _assert_bit_equal(got, exp)


def test_vw_decimate_equal():
    for rb in _batches(False):
        rb = rb.drop_columns(["segment_id"])
        _assert_bit_equal(
            *_run(downsample._vw_kernel, lambda p: _ref_vw(p, 10**9), rb, ROWS, min_area2=10**9)
        )


def test_encode_pathways_equal():
    params = dict(max_jump=300.0, max_rate=5.0, minscore=1e-5)
    schema = pa.schema([*ROWS, ("pathway_id", pa.int32())])
    for rb in _batches(False):
        rb = rb.drop_columns(["segment_id"])
        _assert_bit_equal(
            *_run(encoder._encode_kernel, lambda p: _ref_encode(p, **params), rb, schema, **params)
        )


@pytest.mark.parametrize(
    "runs,ref,min_len",
    [(interp._interp_runs, _ref_grid_interp, 2), (interp._spline_runs, _ref_spline, 3)],
    ids=["interp_time", "interp_cubic_spline"],
)
def test_resample_bit_equal(runs, ref, min_len):
    kernel = interp._resample_kernel
    seen_none = False
    for rb in _batches(True):
        got, exp = _run(
            kernel, lambda p: _ref_resample(p, ref, min_len), rb, INTERP,
            step_us=STEP_US, min_len=min_len, runs=runs,
        )
        seen_none |= exp is None
        _assert_bit_equal(got, exp)
    assert seen_none == (min_len == 3)  # the [2, 1, 2] batch has no spline


def test_one_run_helpers_equal_reference():
    """The one-run entries the oracle-machine and property tests call."""
    rng = np.random.default_rng(2)
    for n in [2, 3, 4, 17, 300]:
        t = np.cumsum(rng.integers(1, 5_000_000_000, n)).astype(np.int64)
        v = rng.integers(-10**4, 10**4, n).astype(np.float64)
        x = (t - t[0]).astype(np.float64)
        for g, e in zip(interp._natural_cubic_coeffs(x, v), _ref_spline_coeffs(x, v)):
            assert np.array_equal(g.view(np.int64), e.view(np.int64))
        for g, e in zip(interp._grid_interp(t, v, STEP_US), _ref_grid_interp(t, v, STEP_US)):
            assert np.array_equal(g.view(np.int64), e.view(np.int64))
