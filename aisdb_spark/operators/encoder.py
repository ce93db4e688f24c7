"""Denoising encoder: score-based greedy segment→pathway re-attachment.

Re-expresses AISdb's ``encode_greatcircledistance`` chain
(``aisdb/denoising_encoder.py:99-228``): noisy per-entity streams are split
at threshold breaks (``_segments_idx``, ``aisdb/denoising_encoder.py:24-42``)
and each segment is greedily attached to the existing "pathway" with the
best connection score; the score function (``src/lib.rs:475-497``) returns
``dist_thresh / implied_speed`` and −1 when the connection exceeds the
speed threshold or twice the distance threshold; ties pick the LAST maximum
(``src/lib.rs:16-21``); a best score below ``minscore`` opens a new
pathway. The result separates interleaved tracks (e.g. two transmitters
sharing one id) into distinct labeled pathways.

Graft domain: positions → value series; distance → |Δvalue|; speed →
|Δvalue|/Δt_seconds.

Spark shape: inherently sequential per entity ⇒ on the per-entity route
(``plans.per_entity``) the batch kernel loops over the whole conversations
of each Arrow batch, an O(segments × pathways) numpy loop per
conversation — per-conversation state is tiny (one boundary point per
pathway).
No oracle (imperative greedy state machine); golden unit tests instead.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from aisdb_spark.plans import per_entity

_OUT_SCHEMA = (
    "conv_id string, turn_idx int, ts timestamp, value long, pathway_id int"
)


def _encode_conv(
    t_us: np.ndarray,
    v: np.ndarray,
    max_jump: float,
    max_rate: float,
    minscore: float,
) -> np.ndarray:
    """→ pathway id per row (rows pre-sorted by turn_idx)."""
    n = len(v)
    out = np.zeros(n, dtype=np.int32)
    if n == 0:
        return out
    # phase 1: segment at breaks (|Δv| ≥ max_jump or rate ≥ max_rate)
    dv = np.abs(np.diff(v.astype(np.float64)))
    dt_s = np.maximum(np.diff(t_us) / 1_000_000.0, 1e-6)
    breaks = (dv >= max_jump) | (dv / dt_s >= max_rate)
    seg_id = np.concatenate([[0], np.cumsum(breaks)])
    # phase 2: greedy attach
    path_end_t: list[int] = []
    path_end_v: list[float] = []
    for s in range(seg_id.max() + 1):
        idx = np.nonzero(seg_id == s)[0]
        sv, st = float(v[idx[0]]), int(t_us[idx[0]])
        best_score, best_p = -1.0, -1
        for p in range(len(path_end_t)):
            dvv = abs(sv - path_end_v[p])
            dts = max((st - path_end_t[p]) / 1_000_000.0, 1e-6)
            rate = dvv / dts
            if rate >= max_rate or dvv >= 2.0 * max_jump:
                score = -1.0
            else:
                score = max_jump / max(rate, 1e-9)
            if score >= best_score:  # ties → last max (src/lib.rs:16-21)
                best_score, best_p = score, p
        if best_p < 0 or best_score < minscore:
            path_end_t.append(int(t_us[idx[-1]]))
            path_end_v.append(float(v[idx[-1]]))
            best_p = len(path_end_t) - 1
        else:
            path_end_t[best_p] = int(t_us[idx[-1]])
            path_end_v[best_p] = float(v[idx[-1]])
        out[idx] = best_p
    return out


def encode_pathways(
    df: DataFrame,
    max_jump: float = 10.0,
    max_rate: float = 1.0,
    minscore: float = 1e-5,
) -> DataFrame:
    """Append ``pathway_id`` per row (requires ts + value)."""
    return per_entity.apply_per_entity(
        df.select("conv_id", "turn_idx", "ts", "value"),
        partial(_encode_kernel, max_jump=max_jump, max_rate=max_rate, minscore=minscore),
        _OUT_SCHEMA,
        order=["turn_idx"],
    )


def _encode_kernel(
    rb: pa.RecordBatch, starts: np.ndarray, max_jump: float, max_rate: float, minscore: float
) -> dict:
    """Batch kernel: :func:`_encode_conv` over each conversation's slice."""
    t = per_entity.micros(rb.column("ts"))
    v = rb.column("value").to_numpy(zero_copy_only=False)
    ends = np.append(starts[1:], len(t))
    pid = [
        _encode_conv(t[a:b], v[a:b], max_jump, max_rate, minscore) for a, b in zip(starts, ends)
    ]
    return {**per_entity.columns(rb), "pathway_id": np.concatenate(pid)}
