"""Gap-fill interpolation and smoothing — numpy kernels over whole conversations.

Re-expresses AISdb's interpolation family (``aisdb/interp.py``):

- ``interp_time`` (``aisdb/interp.py:57-118``): per segment, build the
  regular grid ``arange(t0, tn + step, step)`` (inclusive-end semantics of
  ``aisdb/interp.py:25-32`` — the last grid point may exceed tn; values
  clamp to the boundary sample like ``np.interp``) and linearly interpolate
  the value series onto it. Length-≤1 segments are skipped
  (``aisdb/interp.py:98-100``).
- EWMA gap-fill: named by the north rule alongside interp_time; pandas
  ``ewm(alpha, adjust=True)`` semantics, computed by pandas' own ``ewm``
  kernel grouped by conversation.
- ``interp_spacing`` (``aisdb/interp.py:195-270``): resample every N units
  of cumulative value (the cumulative-distance analog).

Implementation notes (the byte-match discipline):

- Interpolation uses the explicit two-point formula
  ``prev_v + (next_v - prev_v) * (gt - prev_t) / (next_t - prev_t)`` with a
  fixed operation order, NOT ``np.interp`` (whose slope-first formula rounds
  differently) — the DuckDB oracle evaluates the identical expression, so
  results are bit-equal across engines.
- Timestamps are exact int64 microseconds end-to-end.

Scale: the kernels run on the per-entity route of
:mod:`aisdb_spark.plans.per_entity` — one ``mapInArrow`` stage over
conv_id-sorted Arrow batches, each kernel called once per batch on all
its whole conversations and vectorized across them: the segments of a
batch are runs of one sorted array, their grids are built with
``repeat``/``arange``, and the spline's tridiagonal sweeps step across all
runs at once. A task holds one Arrow batch plus the open conversation; a
hot conversation is held whole. All math is numpy; no per-row Python.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aisdb_spark.plans import per_entity

_INTERP_SCHEMA = "conv_id string, segment_id int, ts timestamp, value double"


def _segment_runs(rb: pa.RecordBatch, starts: np.ndarray, min_len: int):
    """The (conversation, segment) runs of a batch of whole conversations
    sorted by (ts, turn_idx), with exact-duplicate timestamps dropped
    keeping the last turn (the spline/interp dedup-by-time precedent,
    aisdb/interp.py:275-289) and runs of fewer than ``min_len`` points
    dropped. Runs are ordered by conversation, then segment id (sort
    precedent aisdb/interp.py:334-338).

    → (batch row of each run's conversation, each run's segment id,
    t µs, values, run starts, run lengths)."""
    n = rb.num_rows
    conv = np.repeat(starts, np.diff(starts, append=n))  # a row's conv, as its first row
    seg = rb.column("segment_id").to_numpy(zero_copy_only=False)
    # segment ids need not rise along ts within a conversation: a stable
    # sort groups the runs and keeps the (ts, turn_idx) order inside them
    o = np.lexsort((seg, conv))
    conv, seg = conv[o], seg[o]
    t = per_entity.micros(rb.column("ts"))[o]
    v = rb.column("value").to_numpy(zero_copy_only=False).astype(np.float64)[o]
    last = np.append((conv[1:] != conv[:-1]) | (seg[1:] != seg[:-1]), True)
    keep = last | np.append(t[1:] != t[:-1], True)  # last per duplicate ts
    ends = np.flatnonzero(last[keep]) + 1
    lens = np.diff(ends, prepend=0)
    long_ = lens >= min_len
    rows = np.repeat(long_, lens)
    lens = lens[long_]
    run_end = np.flatnonzero(keep)[ends[long_] - 1]  # in sorted rows
    return (
        conv[run_end],
        seg[run_end],
        t[keep][rows],
        v[keep][rows],
        np.cumsum(lens) - lens,
        lens,
    )


def _run_grids(t: np.ndarray, rs: np.ndarray, lens: np.ndarray, step_us: int):
    """Every run's regular grid ``arange(t0, tn + step, step)``, flattened
    (inclusive-end semantics of aisdb/interp.py:25-32 — the last grid point
    may exceed tn), for runs of ascending ``t`` starting at ``rs``.

    → (grid µs, run of each grid point, index in ``t`` of the last sample
    at or before each grid point)."""
    t0, tn = t[rs], t[rs + lens - 1]
    # np.arange's own length formula, so each grid is its arange
    cnt = np.ceil((tn + step_us - t0) / step_us).astype(np.int64)
    first = np.cumsum(cnt) - cnt  # a run's first grid point
    run = np.repeat(np.arange(len(rs)), cnt)
    g = np.arange(len(run))
    grid = t0[run] + (g - first[run]) * step_us
    # a sample lies at or before grid point k of its run iff
    # k >= ceil((t - t0) / step): one ascending int key per sample
    key = np.repeat(first, lens) - (np.repeat(t0, lens) - t) // step_us
    return grid, run, np.searchsorted(key, g, side="right") - 1


def _interp_runs(t, v, rs, lens, step_us):
    """Clamped two-point linear interpolation of each run onto its grid
    (fixed op order, see the module notes). → (grid, run, values)."""
    grid, run, prev = _run_grids(t, rs, lens, step_us)
    nxt = np.minimum(prev + 1, (rs + lens - 1)[run])
    prev_t, next_t = t[prev], t[nxt]
    prev_v, next_v = v[prev], v[nxt]
    dt = next_t - prev_t
    safe_dt = np.where(dt == 0, 1, dt)
    out = prev_v + (next_v - prev_v) * (grid - prev_t) / safe_dt
    return grid, run, np.where(dt == 0, prev_v, out)


def _grid_interp(t: np.ndarray, v: np.ndarray, step_us: int) -> tuple[np.ndarray, np.ndarray]:
    """:func:`_interp_runs` of one run: arange grid + clamped interpolation."""
    grid, _, out = _interp_runs(t, v, np.zeros(1, np.int64), np.array([len(t)]), step_us)
    return grid, out


def _resample_kernel(rb: pa.RecordBatch, starts: np.ndarray, step_us: int, min_len: int, runs):
    """Batch kernel: ``runs(t, v, rs, lens, step_us)`` over every segment
    of ``min_len`` or more distinct timestamps in the batch."""
    conv_row, seg, t, v, rs, lens = _segment_runs(rb, starts, min_len)
    if not len(rs):
        return None
    grid, run, out = runs(t, v, rs, lens, step_us)
    return {
        "conv_id": rb.column("conv_id").take(conv_row[run]),
        "segment_id": seg[run],
        "ts": grid,
        "value": out,
    }


def interp_time(df: DataFrame, step_seconds: int = 600) -> DataFrame:
    """Per (conv_id, segment_id): linear resample onto the regular grid.

    Input must carry ``segment_id`` (run gap_split first) and ``value``.
    Segments with ≤1 row are dropped (aisdb/interp.py:98-100).

    Gap segmentation produces many tiny segments, so no Python work is
    paid per segment, nor per conversation: one batch kernel resamples all
    the segments of an Arrow batch at once. Same trade AISdb makes: one
    track dict per vessel, segments as index ranges
    (aisdb/track_gen.py:167-204).
    """
    step_us = int(step_seconds) * 1_000_000
    return per_entity.apply_per_entity(
        df.select("conv_id", "segment_id", "turn_idx", "ts", "value"),
        partial(_resample_kernel, step_us=step_us, min_len=2, runs=_interp_runs),
        _INTERP_SCHEMA,
        order=["ts", "turn_idx"],
    )


def interp_time_expr(df: DataFrame, step_seconds: int = 600) -> DataFrame:
    """Pure-expression twin of :func:`interp_time` — zero Python boundary.

    Same semantics and bit-identical doubles (asserted in tests): the
    two-point formula is evaluated in the same IEEE op order, timestamps
    stay exact int64 µs. Shape: per-segment bounds → ``sequence`` grid
    explode → union(samples, grid) → one window pass per conv for the
    as-of prev/next sample (the union-window as-of idiom of
    ``operators/asof.py``). Everything is JVM expression work inside
    WholeStageCodegen: at cluster scale this removes the Arrow pipe the
    kernel version pays (see PLANS.md codec decomposition for what
    that pipe costs), and all three exchanges hash on conv_id so the plan
    reuses one exchange shape. Registry uses THIS version; the kernel
    version remains as the numpy reference implementation.
    """
    from pyspark.sql import Window

    step_us = int(step_seconds) * 1_000_000
    base = df.select(
        "conv_id",
        "segment_id",
        F.unix_micros("ts").alias("t"),
        F.col("value").cast("double").alias("v"),
        "turn_idx",
    )
    # dedup exact-duplicate timestamps keeping the last turn (interp.py:275-289)
    wd = Window.partitionBy("conv_id", "segment_id", "t").orderBy(
        F.desc("turn_idx")
    )
    samples = (
        base.withColumn("_rn", F.row_number().over(wd))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "turn_idx")
    )
    # per-segment bounds; ≤1 distinct ts → dropped (aisdb/interp.py:98-100)
    bounds = (
        samples.groupBy("conv_id", "segment_id")
        .agg(F.min("t").alias("t0"), F.max("t").alias("tn"), F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
    )
    # inclusive-end arange: k = 0..(tn-t0)//step (+1 when remainder ≠ 0)
    k_max = ((F.col("tn") - F.col("t0")) / F.lit(step_us)).cast("bigint") + F.when(
        (F.col("tn") - F.col("t0")) % step_us == 0, F.lit(0)
    ).otherwise(F.lit(1))
    grid = bounds.select(
        "conv_id",
        "segment_id",
        F.explode(F.sequence(F.lit(0).cast("bigint"), k_max)).alias("k"),
        "t0",
    ).select(
        "conv_id",
        "segment_id",
        (F.col("t0") + F.col("k") * step_us).alias("t"),
        F.lit(None).cast("double").alias("v"),
        F.lit(0).alias("is_sample"),
    )
    both = samples.withColumn("is_sample", F.lit(1)).unionByName(grid)
    w = Window.partitionBy("conv_id", "segment_id").orderBy(
        "t", F.desc("is_sample")
    )
    sv = F.when(F.col("is_sample") == 1, F.col("v"))
    st = F.when(F.col("is_sample") == 1, F.col("t"))
    prev_v = F.last(sv, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_t = F.last(st, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    next_v = F.first(sv, ignorenulls=True).over(
        w.rowsBetween(0, Window.unboundedFollowing)
    )
    next_t = F.first(st, ignorenulls=True).over(
        w.rowsBetween(0, Window.unboundedFollowing)
    )
    out = (
        both.withColumn("_pv", prev_v)
        .withColumn("_pt", prev_t)
        .withColumn("_nv", next_v)
        .withColumn("_nt", next_t)
        .filter(F.col("is_sample") == 0)
    )
    # identical op order to _grid_interp: pv + (nv-pv) * (t-pt) / dt
    interp = F.when(
        F.col("_nt").isNull() | (F.col("_nt") == F.col("_pt")), F.col("_pv")
    ).otherwise(
        F.col("_pv")
        + (F.col("_nv") - F.col("_pv"))
        * (F.col("t") - F.col("_pt"))
        / (F.col("_nt") - F.col("_pt"))
    )
    return out.select(
        "conv_id",
        "segment_id",
        F.timestamp_micros(F.col("t")).alias("ts"),
        interp.alias("value"),
    )


def ewma(df: DataFrame, alpha: float = 0.3) -> DataFrame:
    """EWMA of the value series per conversation, in turn order.

    pandas ``ewm(alpha=alpha, adjust=True).mean()`` semantics. The exact
    IEEE recursion (pandas aggregations.pyx): ow ← ow·(1-α); if avg ≠ x_t:
    avg ← (ow·avg + x_t)/(ow + 1); ow ← ow + 1. The DuckDB oracle
    (queries._ewma_oracle) replays the same op order in a recursive CTE, so
    the comparison is bit-exact — alpha is passed straight through (no
    ``1-(1-α)`` round-trip, which is not an IEEE identity).
    Output: (conv_id, turn_idx, ts, value, ewma_value).
    """
    schema = "conv_id string, turn_idx int, ts timestamp, value long, ewma_value double"
    return per_entity.apply_per_entity(
        df.select("conv_id", "turn_idx", "ts", "value"),
        partial(_ewma_kernel, alpha=alpha),
        schema,
        order=["turn_idx"],
    )


def _ewma_kernel(rb: pa.RecordBatch, starts: np.ndarray, alpha: float) -> dict:
    """Batch kernel: one grouped ``ewm`` over all the batch's conversations
    — pandas' C kernel of the adjust=True recursion, run within each
    conversation's row bounds, so each conversation gets the ops of its
    own ``ewm``."""
    v = rb.column("value").to_numpy(zero_copy_only=False).astype(np.float64)
    conv = np.repeat(np.arange(len(starts)), np.diff(starts, append=len(v)))
    e = pd.Series(v).groupby(conv, sort=False).ewm(alpha=alpha, adjust=True).mean()
    return {**per_entity.columns(rb), "ewma_value": e.to_numpy()}


def interp_spacing(df: DataFrame, spacing: int = 100) -> DataFrame:
    """Keep the first turn crossing each N-unit boundary of cumulative value
    (aisdb/interp.py:195-270 cumulative-distance resampling, discretized).

    Pure Window expression — no UDF: cum = running sum(value); keep rows
    where floor(cum/N) > floor(prev_cum/N), plus each conversation's first.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    cum = F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0))
    d = df.withColumn("_cum", cum).withColumn(
        "_prev_cum", F.lag("_cum").over(w)
    )
    keep = F.col("_prev_cum").isNull() | (
        F.floor(F.col("_cum") / F.lit(spacing))
        > F.floor(F.col("_prev_cum") / F.lit(spacing))
    )
    return d.filter(keep).drop("_cum", "_prev_cum")


def _spline_coeffs(x: np.ndarray, y: np.ndarray, rs: np.ndarray, lens: np.ndarray):
    """Natural cubic spline coefficients of every run of (x, y) at once, by
    the standard tridiagonal (Thomas) solve (public algorithm; replaces
    scipy.CubicSpline used by the reference, aisdb/interp.py:273-356 —
    scipy is not in this image). Runs start at ``rs``, are ``lens`` ≥ 2
    long and have strictly ascending x.

    The two sweeps are recurrences along a run, so they run as a wavefront
    across the runs: in a step-major layout (position p of every run
    longer than p, longest run first) a step's active runs are one slice.
    Each element sees the ops of a one-run solve, in the same order.

    → flat (b, c, d) per point, for the interval to its right (a run's
    last entry is unused)."""
    n = len(x)
    h = np.diff(x)
    pos = np.arange(n) - np.repeat(rs, lens)  # position within its run
    span = np.repeat(lens, lens)
    inner = np.flatnonzero((pos > 0) & (pos < span - 1))
    diag, h_lo, h_hi, alpha = np.zeros((4, n))
    alpha[inner] = (
        3.0 * (y[inner + 1] - y[inner]) / h[inner]
        - 3.0 * (y[inner] - y[inner - 1]) / h[inner - 1]
    )
    diag[inner] = 2.0 * (x[inner + 1] - x[inner - 1])
    h_lo[inner] = h[inner - 1]
    h_hi[inner] = h[inner]
    rank = np.empty(len(lens), np.int64)
    rank[np.argsort(-lens, kind="stable")] = np.arange(len(lens))
    perm = np.lexsort((np.repeat(rank, lens), pos))  # run-major → step-major
    active = len(lens) - np.cumsum(np.bincount(lens))  # runs longer than p
    off = np.append(0, np.cumsum(active))
    diag, h_lo, h_hi, alpha = diag[perm], h_lo[perm], h_hi[perm], alpha[perm]
    mu = np.zeros(n)
    z = np.zeros(n)
    for p in range(1, len(active) - 2):
        k = active[p + 1]  # runs with interior point p
        cur = slice(off[p], off[p] + k)
        prv = slice(off[p - 1], off[p - 1] + k)
        l = diag[cur] - h_lo[cur] * mu[prv]
        mu[cur] = h_hi[cur] / l
        z[cur] = (alpha[cur] - h_lo[cur] * z[prv]) / l
    c = np.zeros(n)
    for p in range(len(active) - 3, -1, -1):
        k = active[p + 1]  # runs with an interval right of p
        cur = slice(off[p], off[p] + k)
        c[cur] = z[cur] - mu[cur] * c[off[p + 1] : off[p + 1] + k]
    c[perm] = c.copy()  # back to run-major
    j = np.flatnonzero(pos < span - 1)
    b = np.zeros(n)
    d = np.zeros(n)
    b[j] = (y[j + 1] - y[j]) / h[j] - h[j] * (c[j + 1] + 2.0 * c[j]) / 3.0
    d[j] = (c[j + 1] - c[j]) / (3.0 * h[j])
    return b, c, d


def _natural_cubic_coeffs(x: np.ndarray, y: np.ndarray):
    """:func:`_spline_coeffs` of one run → (b, c, d) per interval."""
    b, c, d = _spline_coeffs(x, y, np.zeros(1, np.int64), np.array([len(x)]))
    return b[:-1], c[:-1], d[:-1]


def _spline_runs(t, v, rs, lens, step_us):
    """Natural cubic spline of each run evaluated on its grid; the overhang
    beyond the last sample (grid inclusive-end) clamps to it.
    → (grid, run, values)."""
    t0 = t[rs]
    x = (t - np.repeat(t0, lens)).astype(np.float64)
    b, c, d = _spline_coeffs(x, v, rs, lens)
    grid, run, prev = _run_grids(t, rs, lens, step_us)
    last = (rs + lens - 1)[run]
    j = np.clip(prev, rs[run], last - 1)
    gx = (grid - t0[run]).astype(np.float64)
    dx = gx - x[j]
    # explicit multiply chains, NOT dx**3: numpy's SIMD pow rounds
    # differently from libm pow (DuckDB) — multiplies are IEEE-exact
    # identical in both engines, which keeps the oracle bit-equal
    dx2 = dx * dx
    out = v[j] + b[j] * dx + c[j] * dx2 + d[j] * (dx2 * dx)
    return grid, run, np.where(gx > x[last], v[last], out)


def interp_cubic_spline(df: DataFrame, step_seconds: int = 600) -> DataFrame:
    """Natural-cubic-spline resample per (conv, segment) onto the regular
    grid (semantics of aisdb/interp.py:273-356: sort by time, dedup
    duplicate timestamps, skip short segments — here < 3 points)."""
    step_us = int(step_seconds) * 1_000_000
    return per_entity.apply_per_entity(
        df.select("conv_id", "segment_id", "turn_idx", "ts", "value"),
        partial(_resample_kernel, step_us=step_us, min_len=3, runs=_spline_runs),
        _INTERP_SCHEMA,
        order=["ts", "turn_idx"],
    )
