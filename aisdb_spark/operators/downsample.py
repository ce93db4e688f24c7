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
conv_id-sorted Arrow batches, the kernel called once per whole
conversation. A task holds one batch plus the open conversation; a hot
conversation is held whole, however large.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aisdb_spark.plans.per_entity import apply_per_entity


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
    out_schema = "conv_id string, turn_idx int, ts timestamp, value long"

    def _one(pdf: pd.DataFrame) -> pd.DataFrame:
        import heapq

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
        return pdf.iloc[np.flatnonzero(alive)]

    return apply_per_entity(
        df.select("conv_id", "turn_idx", "ts", "value"), _one, out_schema, order=["turn_idx"]
    )


def lttb(df: DataFrame, n_out: int = 64) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsample to ≤ n_out points per
    conversation (vectorized numpy per group).

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
    out_schema = "conv_id string, turn_idx int, ts timestamp, value long"

    def _one(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m <= n_out:
            return pdf
        us = pdf["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
        x = (us - us.min()) // 1000  # relative ms, int64
        y = pdf["value"].to_numpy(dtype=np.int64)
        j = np.arange(n_out - 1, dtype=np.int64)
        bounds = 1 + (j * (m - 2)) // (n_out - 2)
        ext = np.append(bounds, m)  # sentinel: last "next slice" = [m-1, m)
        keep = [0]
        a = 0
        for i in range(n_out - 2):
            lo, hi = int(bounds[i]), int(bounds[i + 1])
            nlo, nhi = int(ext[i + 1]), int(ext[i + 2])
            n = nhi - nlo
            cxs = x[nlo:nhi].sum()
            cys = y[nlo:nhi].sum()
            area = np.abs(
                (n * x[a] - cxs) * (y[lo:hi] - y[a])
                - (x[a] - x[lo:hi]) * (cys - n * y[a])
            )
            a = lo + int(np.argmax(area))
            keep.append(a)
        keep.append(m - 1)
        return pdf.iloc[sorted(set(keep))]

    return apply_per_entity(
        df.select("conv_id", "turn_idx", "ts", "value"), _one, out_schema, order=["turn_idx"]
    )
