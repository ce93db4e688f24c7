"""Gap-fill interpolation and smoothing — per-conversation numpy kernels.

Re-expresses AISdb's interpolation family (``aisdb/interp.py``):

- ``interp_time`` (``aisdb/interp.py:57-118``): per segment, build the
  regular grid ``arange(t0, tn + step, step)`` (inclusive-end semantics of
  ``aisdb/interp.py:25-32`` — the last grid point may exceed tn; values
  clamp to the boundary sample like ``np.interp``) and linearly interpolate
  the value series onto it. Length-≤1 segments are skipped
  (``aisdb/interp.py:98-100``).
- EWMA gap-fill: named by the north rule alongside interp_time; pandas
  ``ewm(alpha, adjust=True)`` semantics, implemented recursively in numpy.
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
conv_id-sorted Arrow batches, each kernel called once per whole
conversation with a numpy loop over its segments. A task holds one Arrow
batch plus the open conversation; a hot conversation is held whole. All
math is numpy; no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aisdb_spark.plans.per_entity import apply_per_entity

_INTERP_SCHEMA = "conv_id string, segment_id int, ts timestamp, value double"


def _grid_interp(t: np.ndarray, v: np.ndarray, step_us: int) -> tuple[np.ndarray, np.ndarray]:
    """arange-grid + clamped two-point linear interpolation (fixed op order)."""
    t0, tn = t[0], t[-1]
    grid = np.arange(t0, tn + step_us, step_us, dtype=np.int64)
    # prev sample index for each grid point (grid >= t0 so idx >= 0 after clip)
    idx = np.searchsorted(t, grid, side="right") - 1
    idx = np.clip(idx, 0, len(t) - 1)
    nxt = np.clip(idx + 1, 0, len(t) - 1)
    prev_t, next_t = t[idx], t[nxt]
    prev_v, next_v = v[idx], v[nxt]
    dt = next_t - prev_t
    safe_dt = np.where(dt == 0, 1, dt)
    out = prev_v + (next_v - prev_v) * (grid - prev_t) / safe_dt
    out = np.where(dt == 0, prev_v, out)
    return grid, out


def interp_time(df: DataFrame, step_seconds: int = 600) -> DataFrame:
    """Per (conv_id, segment_id): linear resample onto the regular grid.

    Input must carry ``segment_id`` (run gap_split first) and ``value``.
    Segments with ≤1 row are dropped (aisdb/interp.py:98-100).

    Grouped by conv_id only (entities), with a numpy loop over segments
    inside — gap segmentation produces many tiny segments, and one pandas
    group per *segment* pays ~ms of per-group overhead each (measured 440 s
    at sf0.1 vs ~8 s this way). Same trade AISdb makes: one track dict per
    vessel, segments as index ranges (aisdb/track_gen.py:167-204).
    """
    step_us = int(step_seconds) * 1_000_000

    def _one_conv(pdf: pd.DataFrame) -> pd.DataFrame | None:
        # rows arrive sorted by (ts, turn_idx): dedup exact-duplicate
        # timestamps keeping the last turn — the spline/interp dedup-by-time
        # precedent (aisdb/interp.py:275-289); sort precedent
        # aisdb/interp.py:334-338
        seg_all = pdf["segment_id"].to_numpy(dtype=np.int32)
        t_all = pdf["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
        v_all = pdf["value"].to_numpy(dtype=np.float64)
        grids, vals, segs = [], [], []
        for s in np.unique(seg_all):
            m = seg_all == s
            t, v = t_all[m], v_all[m]
            keep = np.append(t[1:] != t[:-1], True)  # last per duplicate ts
            t, v = t[keep], v[keep]
            if len(t) <= 1:
                continue
            grid, out = _grid_interp(t, v, step_us)
            grids.append(grid)
            vals.append(out)
            segs.append(np.full(len(grid), s, dtype=np.int32))
        if not grids:
            return None
        return pd.DataFrame(
            {
                "conv_id": pdf["conv_id"].iloc[0],
                "segment_id": np.concatenate(segs),
                "ts": pd.to_datetime(np.concatenate(grids), unit="us"),
                "value": np.concatenate(vals),
            }
        )

    return apply_per_entity(
        df.select("conv_id", "segment_id", "turn_idx", "ts", "value"),
        _one_conv,
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

    def _one(pdf: pd.DataFrame) -> pd.DataFrame:
        # pandas' C kernel implements exactly the adjust=True recursion
        return pdf.assign(
            ewma_value=pdf["value"].astype("float64").ewm(alpha=alpha, adjust=True).mean()
        )

    return apply_per_entity(
        df.select("conv_id", "turn_idx", "ts", "value"), _one, schema, order=["turn_idx"]
    )


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


def _natural_cubic_coeffs(x: np.ndarray, y: np.ndarray):
    """Natural cubic spline coefficients via the standard tridiagonal solve
    (public algorithm; replaces scipy.CubicSpline used by the reference,
    aisdb/interp.py:273-356 — scipy is not in this image)."""
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


def interp_cubic_spline(df: DataFrame, step_seconds: int = 600) -> DataFrame:
    """Natural-cubic-spline resample per (conv, segment) onto the regular
    grid (semantics of aisdb/interp.py:273-356: sort by time, dedup
    duplicate timestamps, skip short segments — here < 3 points)."""
    step_us = int(step_seconds) * 1_000_000

    def _one_conv(pdf: pd.DataFrame) -> pd.DataFrame | None:
        seg_all = pdf["segment_id"].to_numpy(dtype=np.int32)
        t_all = pdf["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
        v_all = pdf["value"].to_numpy(dtype=np.float64)
        grids, vals, segs = [], [], []
        for s in np.unique(seg_all):
            m = seg_all == s
            t, v = t_all[m], v_all[m]
            keep = np.append(t[1:] != t[:-1], True)
            t, v = t[keep], v[keep]
            if len(t) < 3:
                continue
            x = (t - t[0]).astype(np.float64)
            b, c, d = _natural_cubic_coeffs(x, v)
            grid = np.arange(t[0], t[-1] + step_us, step_us, dtype=np.int64)
            gx = (grid - t[0]).astype(np.float64)
            j = np.clip(np.searchsorted(x, gx, side="right") - 1, 0, len(x) - 2)
            dx = gx - x[j]
            # explicit multiply chains, NOT dx**3: numpy's SIMD pow rounds
            # differently from libm pow (DuckDB) — multiplies are IEEE-exact
            # identical in both engines, which keeps the oracle bit-equal
            dx2 = dx * dx
            out = v[j] + b[j] * dx + c[j] * dx2 + d[j] * (dx2 * dx)
            # clamp overhang beyond the last sample (grid inclusive-end)
            out = np.where(gx > x[-1], v[-1], out)
            grids.append(grid)
            vals.append(out)
            segs.append(np.full(len(grid), s, dtype=np.int32))
        if not grids:
            return None
        return pd.DataFrame(
            {
                "conv_id": pdf["conv_id"].iloc[0],
                "segment_id": np.concatenate(segs),
                "ts": pd.to_datetime(np.concatenate(grids), unit="us"),
                "value": np.concatenate(vals),
            }
        )

    return apply_per_entity(
        df.select("conv_id", "segment_id", "turn_idx", "ts", "value"),
        _one_conv,
        _INTERP_SCHEMA,
        order=["ts", "turn_idx"],
    )
