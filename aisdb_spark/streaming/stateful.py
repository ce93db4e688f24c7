"""Custom stateful streaming operator: EWMA gap-fill with carried state.

The batch EWMA (``operators/interp.ewma``, reference gap-fill role
``aisdb/interp.py:57-118``) smooths each conversation's value series with
pandas ``ewm(alpha, adjust=True)``. This module is its streaming twin via
``applyInPandasWithState`` — the Spark-native pattern for operators whose
per-entity state must survive micro-batch boundaries (north-star §streaming;
the reference's per-entity receiver buffers, ``aisdb/receiver.py:6-57``).

Per ``conv_id`` the state is the pair ``(ow, avg)`` — the adjust=True
recursion's total decayed weight and current weighted mean. Semantics:

- **first batch of a conversation** (empty state): the output IS pandas'
  C-kernel ``ewm`` of the batch — bit-identical to the batch operator, so
  a single-drain stream reuses the bit-exact DuckDB oracle of ``ewma_03``.
- **subsequent batches** (state carries ``ow0, avg0``): the continuation
  is computed vectorized from the closed form of the adjust=True weighted
  mean — within-batch pandas ``ewm`` gives A_j, then

      den'_j = (1-(1-α)^j)/α          (batch-alone weight, closed form)
      e_j    = (A_j·den'_j + avg0·ow0·(1-α)^j) / (den'_j + ow0·(1-α)^j)

  i.e. the history enters as one synthetic observation of weight ``ow0``
  decayed by the j new turns. All numpy — no per-row Python; decay powers
  shrink (1-α < 1), so there is no overflow for arbitrarily long state.
  Cross-batch values agree with the batch operator to IEEE rounding (the
  op order differs; tests assert ≤1e-9 relative), while per-batch order
  inside one micro-batch stays exact.

Delivery contract: per-conversation turn order across micro-batches (the
file-source waves land in turn order) — same contract as the reference's
insertion-ordered decoding.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = (
    "conv_id string, turn_idx int, ts timestamp, value long, ewma_value double"
)
STATE_SCHEMA = "ow double, avg double"


def _ewma_state_fn(alpha: float):
    import numpy as np

    def fn(key, pdf_iter, state: GroupState):
        ow0, avg0 = state.get if state.exists else (0.0, 0.0)
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        if len(pdf) == 0:
            state.update((float(ow0), float(avg0)))
            return iter(())
        pdf = pdf.sort_values("turn_idx").reset_index(drop=True)
        x = pdf["value"].astype("float64")
        a_within = x.ewm(alpha=alpha, adjust=True).mean().to_numpy()
        m = len(pdf)
        if ow0 == 0.0:
            # virgin state: pandas C kernel verbatim -> bit-equal to the
            # batch operator (and its DuckDB oracle)
            e = a_within
            den_m = (1.0 - (1.0 - alpha) ** m) / alpha
            ow0, avg0 = den_m, float(e[-1])
        else:
            j = np.arange(1, m + 1, dtype=np.float64)
            dec = np.power(1.0 - alpha, j)
            den = (1.0 - dec) / alpha
            prior_w = ow0 * dec
            e = (a_within * den + avg0 * prior_w) / (den + prior_w)
            ow0, avg0 = float(den[-1] + prior_w[-1]), float(e[-1])
        out = pdf[["conv_id", "turn_idx", "ts", "value"]].copy()
        out["ewma_value"] = e
        state.update((float(ow0), float(avg0)))
        return iter([out])

    return fn


def stream_ewma(
    spark: SparkSession,
    landing_dir: str,
    schema,
    alpha: float = 0.3,
    glob: str | None = None,
) -> DataFrame:
    """readStream(landing dir of raw-turn parquet) → stateful per-conv
    EWMA (append mode, state never times out — conversations are
    unbounded, exactly like the reference's per-mmsi buffers)."""
    from aisdb_spark.sources.normalize import read_parquet_stream

    src = read_parquet_stream(
        spark, landing_dir, schema, glob, recursive=True
    ).select("conv_id", "turn_idx", "ts", "value")
    return src.groupBy("conv_id").applyInPandasWithState(
        _ewma_state_fn(alpha),
        OUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def drain_ewma(
    spark: SparkSession,
    landing_dir: str,
    schema,
    out_dir: str,
    checkpoint_dir: str,
    alpha: float = 0.3,
    glob: str | None = None,
) -> DataFrame:
    """Run the stateful stream to completion over available files, append
    into a fault-tolerant parquet sink, and return the sink as a batch
    DataFrame. Re-draining with the same checkpoint processes only new
    files and RESTORES the per-conversation (ow, avg) state from the state
    store — the resume semantics the memory sink cannot provide."""
    q = (
        stream_ewma(spark, landing_dir, schema, alpha=alpha, glob=glob)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)
