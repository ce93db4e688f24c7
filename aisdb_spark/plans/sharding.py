"""Sharded per-entity applyInPandas: amortize group-dispatch overhead.

JVM→Python group dispatch costs ~6 ms per applyInPandas group; with one
group per *conversation* (10^5–10^8 entities at scale) dispatch dominates
the actual kernel. This helper groups by ``pmod(hash(conv_id), shards)``
super-shards and runs the per-conversation kernel via pandas ``groupby``
inside each shard (C-speed dispatch) — measured 3–5× on the codec, interp,
and EWMA stages. Results are identical: the kernel still sees exactly one
whole conversation at a time.

Shard count defaults to 4× parallelism — enough tasks to balance while
keeping per-task overhead amortized over many conversations. Hot
conversations still bound a single shard's size: a kernel that permits
chunking must chunk itself (as the codec's ``max_rows`` does).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def apply_per_conv(
    df: DataFrame,
    conv_fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
    shards: int | None = None,
    key: str = "conv_id",
) -> DataFrame:
    """Run ``conv_fn`` once per entity, dispatched via hash super-shards."""

    def _shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.drop(columns=["_shard"])
        outs = [conv_fn(g) for _, g in pdf.groupby(key, sort=False)]
        outs = [o for o in outs if len(o)]
        if not outs:
            return conv_fn(pdf.iloc[0:0])
        return pd.concat(outs, ignore_index=True)

    spark = df.sparkSession
    n = shards or spark.sparkContext.defaultParallelism * 2
    return (
        df.withColumn("_shard", F.pmod(F.hash(key), F.lit(n)))
        # Explicit-count repartition on the shard key: groupBy alone hashes
        # into spark.sql.shuffle.partitions and AQE's coalescer then sizes
        # partitions for JVM work (~1 MB floor) — at bench scale that
        # collapses the exchange to ONE partition and serializes every
        # pandas kernel on a single Python worker (measured: 1500 convs,
        # 1 worker pid). A user-specified repartition count is exempt from
        # AQE coalescing, and the groupBy reuses this exchange (same key),
        # so the plan still has exactly one shuffle. n is conf-derived
        # (defaultParallelism), not a local-mode constant.
        .repartition(n, "_shard")
        .groupBy("_shard")
        .applyInPandas(_shard, schema)
    )
