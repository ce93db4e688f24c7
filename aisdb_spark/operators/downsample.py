"""Downsampling operators.

AISdb reduces track density two ways: Visvalingam-Whyatt decimation at track
build (``src/lib.rs:432-440``, used ``aisdb/track_gen.py:75``) and the
server-side simplify+round pipeline (``database_server/src/
aisdb_db_server.rs:429-495``). Graft set:

- ``every_nth``: keep every Nth turn per conversation (rank-based, robust to
  turn_idx holes) — pure Window, SQL-expressible, the cheap path.
- ``bucket_first``: keep the first turn of each time bucket — grid
  downsampling, pure built-ins.
- ``lttb``: Largest-Triangle-Three-Buckets per conversation — the
  perceptual decimation slot of VW, a vectorized numpy kernel (no per-row
  Python);
- ``vw_decimate``: true Visvalingam-Whyatt per conversation.

Scale: every_nth/bucket_first are window/agg on the shared conv_id
exchange. lttb and vw_decimate run on the per-entity route of
:mod:`aisdb_spark.plans.per_entity`: one ``mapInArrow`` stage over
conv_id-sorted Arrow batches, the kernel called once per batch on all its
whole conversations (lttb steps through the buckets of all of them at
once; vw_decimate's greedy order is sequential, so it loops over them). A
task holds one batch plus the open conversation; a hot conversation is
held whole, however large.
"""

from __future__ import annotations

import heapq
from functools import partial

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aisdb_spark.plans import per_entity

_OUT_SCHEMA = "conv_id string, turn_idx int, ts timestamp, value long"


def every_nth(df: DataFrame, n: int) -> DataFrame:
    """Keep every Nth turn per conversation, by in-conversation rank."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter((F.col("_rk") - 1) % F.lit(n) == 0)
        .drop("_rk")
    )


def bucket_first(df: DataFrame, unit: str = "minute") -> DataFrame:
    """One row per (conv, time bucket): the earliest turn's value —
    grid downsampling by temporal bin."""
    return (
        df.groupBy("conv_id", F.date_trunc(unit, "ts").alias("bucket_start"))
        .agg(
            F.min("turn_idx").alias("turn_idx"),
            F.min_by("value", "turn_idx").alias("value"),
        )
    )


def vw_decimate(df: DataFrame, min_area2: int = 100_000_000) -> DataFrame:
    """True Visvalingam-Whyatt decimation per conversation — the direct
    re-expression of AISdb's ``simplify_linestring_idx``
    (``src/lib.rs:432-440``, effective-area point dropping, used at track
    build ``aisdb/track_gen.py:67-77``): repeatedly remove the interior
    point whose triangle (with its current neighbours) has the smallest
    area, until every remaining interior area reaches the threshold.
    Endpoints always survive.

    Deterministic integer semantics so the DuckDB oracle can replay the
    greedy machine exactly (the reference's 1e-4 float precision knob
    becomes an integer doubled-area threshold):

    - x = relative ms within the conversation (int64), y = value (int64);
    - doubled area ``|(x_i−x_a)(y_c−y_a) − (x_c−x_a)(y_i−y_a)|`` — exact
      int64 (≤ span_ms·max|Δvalue|, ~5e17 at a 100 TB hot conversation);
    - ties break to the LOWEST surviving index.

    Implementation: lazy min-heap over (area, index) with a doubly-linked
    alive list — O(m log m) per conversation, numpy + heapq, one call per
    conversation on the per-entity route (plans.per_entity). The
    elimination order is inherently sequential, exactly as the
    reference's Rust loop; neighbours are the only areas that change per
    removal."""
    return per_entity.apply_per_entity(
        df.select("conv_id", "turn_idx", "ts", "value"),
        partial(_vw_kernel, min_area2=min_area2),
        _OUT_SCHEMA,
        order=["turn_idx"],
    )


def _vw_keep(us: np.ndarray, y: np.ndarray, min_area2: int) -> np.ndarray:
    """The surviving rows (mask) of one conversation of ≥ 3 points."""
    m = len(us)
    x = (us - us.min()) // 1000
    prev = np.arange(-1, m - 1)
    nxt = np.arange(1, m + 1)
    alive = np.ones(m, dtype=bool)
    ver = np.zeros(m, dtype=np.int64)

    def area2(i: int) -> int:
        a, c = prev[i], nxt[i]
        return abs(
            int(x[i] - x[a]) * int(y[c] - y[a])
            - int(x[c] - x[a]) * int(y[i] - y[a])
        )

    heap = [(area2(i), i, 0) for i in range(1, m - 1)]
    heapq.heapify(heap)
    while heap:
        ar, i, v = heapq.heappop(heap)
        if not alive[i] or v != ver[i]:
            continue  # stale entry (neighbour changed since push)
        if ar >= min_area2:
            break  # heap min is the global min → all survivors pass
        alive[i] = False
        p, nx = int(prev[i]), int(nxt[i])
        nxt[p], prev[nx] = nx, p
        for j in (p, nx):
            if 0 < j < m - 1 and alive[j]:
                ver[j] += 1
                heapq.heappush(heap, (area2(j), j, int(ver[j])))
    return alive


def _vw_kernel(rb: pa.RecordBatch, starts: np.ndarray, min_area2: int) -> dict:
    """Batch kernel: :func:`_vw_keep` over each conversation's slice."""
    us = per_entity.micros(rb.column("ts"))
    y = rb.column("value").to_numpy(zero_copy_only=False).astype(np.int64)
    keep = np.ones(len(us), dtype=bool)
    for a, b in zip(starts, np.append(starts[1:], len(us))):
        if b - a > 2:
            keep[a:b] = _vw_keep(us[a:b], y[a:b], min_area2)
    return per_entity.columns(rb, keep)


def lttb(df: DataFrame, n_out: int = 64) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsample to ≤ n_out points per
    conversation (vectorized across the conversations of a batch).

    Fills the decimation slot of AISdb's ``simplify_linestring_idx``
    (``src/lib.rs:432-440``): keep first and last, then per bucket the point
    maximizing triangle area against the previous kept point and the next
    bucket's centroid. Deterministic (argmax ties → lowest index).

    Semantics are defined in INTEGER arithmetic so the DuckDB oracle can
    replay them exactly (no float summation-order ambiguity):

    - x = (epoch_us(ts) - min epoch_us over conv) // 1000 (relative ms),
      y = value (BIGINT); bucket bounds over the m-2 interior points are
      ``lo_j = 1 + (j·(m-2)) // (n_out-2)`` (integer floor, strictly
      increasing because m > n_out);
    - the argmax compares ``n·area`` (triangle area scaled by the next
      bucket's point count n, clearing the centroid division):
      ``|(n·x_a − Σx_next)·(y_c − y_a) − (x_a − x_c)·(Σy_next − n·y_a)|``.
      Overflow bound: ≤ bucket_size · span_ms · max|Δvalue| — at a
      100 TB-scale hot conversation (10⁵ turns over a year, |value| ≤ 10⁴)
      that is ~1600·3.2e10·1e4 ≈ 5e17 < 2⁶³.
    """
    return per_entity.apply_per_entity(
        df.select("conv_id", "turn_idx", "ts", "value"),
        partial(_lttb_kernel, n_out=n_out),
        _OUT_SCHEMA,
        order=["turn_idx"],
    )


def _lttb_kernel(rb: pa.RecordBatch, starts: np.ndarray, n_out: int) -> dict:
    """Batch kernel: the n_out - 2 bucket steps run once for all the
    conversations longer than ``n_out``, each step over all their buckets;
    the shorter ones are kept whole."""
    n = rb.num_rows
    m = np.diff(starts, append=n)
    big = m > n_out
    if not big.any():
        return per_entity.columns(rb)
    us = per_entity.micros(rb.column("ts"))
    x = (us - np.repeat(np.minimum.reduceat(us, starts), m)) // 1000  # relative ms
    y = rb.column("value").to_numpy(zero_copy_only=False).astype(np.int64)
    keep = np.repeat(~big, m)
    s, m = starts[big], m[big]
    keep[s] = keep[s + m - 1] = True
    k, steps = len(s), n_out - 2
    # bucket bounds of step i: [lo[:, i], lo[:, i+1]); the next bucket's:
    # [lo[:, i+1], lo[:, i+2]), the last one [m-1, m)
    j = np.arange(n_out - 1, dtype=np.int64)
    lo = np.column_stack([s[:, None] + 1 + (j * (m[:, None] - 2)) // steps, s + m])
    nn = lo[:, 2:] - lo[:, 1:-1]
    # next-bucket sums; int64 wrap-around keeps the differences exact
    cx, cy = (np.concatenate([[0], np.cumsum(c)]) for c in (x, y))
    sx = cx[lo[:, 2:]] - cx[lo[:, 1:-1]]
    sy = cy[lo[:, 2:]] - cy[lo[:, 1:-1]]
    # every bucket's rows, step-major: step i is the slice bound[i]:bound[i+1]
    width = (lo[:, 1:-1] - lo[:, :-2]).T  # steps × conversations
    first = (np.cumsum(width) - width.ravel()).reshape(steps, k)
    rows = np.repeat(lo[:, :-2].T.ravel() - first.ravel(), width.ravel())
    rows += np.arange(len(rows))
    conv = np.repeat(np.tile(np.arange(k), steps), width.ravel())
    bound = np.append(first[:, 0], len(rows))
    xr, yr = x[rows], y[rows]
    a = s  # each conversation's last kept point
    for i in range(steps):
        r = slice(bound[i], bound[i + 1])
        c = conv[r]
        xa, ya = x[a], y[a]
        p = nn[:, i] * xa - sx[:, i]
        q = sy[:, i] - nn[:, i] * ya
        area = np.abs(p[c] * (yr[r] - ya[c]) - (xa[c] - xr[r]) * q[c])
        seg = first[i] - bound[i]
        hit = np.flatnonzero(area == np.repeat(np.maximum.reduceat(area, seg), width[i]))
        a = rows[r][hit[np.searchsorted(hit, seg)]]  # argmax, ties → lowest row
        keep[a] = True
    return per_entity.columns(rb, keep)
