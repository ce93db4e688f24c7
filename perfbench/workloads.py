"""The benchmark's workloads.

Each workload calls the engine only through its public functions
(``sources``, ``queries``, ``streaming.*``). Both are closed loops with
one caller: ``op()`` runs one operation and returns when its outputs are
complete; the next operation starts only after that.

A workload object has:

- ``setup()``: load the generated input (counted in ``setup_s``);
- ``op()``: one timed operation, returning the input rows it consumed and
  the number of operations it counts as (a pass of N queries counts N);
- ``reset()``: forget per-operation state gathered during warm-up;
- ``check()``: the independent output checks, returning failure messages;
- ``stored_bytes_per_row()``: the size metric after the last operation.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.parquet as pq

KERNEL_QUERIES = [
    "gorilla_roundtrip",
    "gorilla_metrics",
    "ewma_03",
    "interp_cubic_spline",
    "lttb_64",
]
TIERS = ("1min", "1h", "1d")


def dir_bytes(path: str, suffix: str = "") -> int:
    """Bytes of the files under ``path`` whose names end in ``suffix``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(suffix))
    return total


class Kernels:
    """One pass of per-conversation Python/Arrow operators through the
    query registry. Every result is collected to the driver as Arrow, so a
    pass ends when all outputs are complete and the checks read exactly
    what the pass returned."""

    name = "kernels"

    def __init__(self, spark, inp: str, work: str):
        self.spark, self.inp = spark, inp
        self.out: dict = {}
        self.query_s = dict.fromkeys(KERNEL_QUERIES, 0.0)

    def setup(self) -> None:
        from aisdb_spark.sources.transcripts import load_transcripts

        self.rows = load_transcripts(self.spark, self.inp).count()

    def op(self) -> tuple[int, int]:
        from aisdb_spark.queries import QUERIES

        for name in KERNEL_QUERIES:
            t0 = time.monotonic()
            self.out[name] = QUERIES[name](self.spark, self.inp).toArrow()
            self.query_s[name] += time.monotonic() - t0
        return self.rows, len(KERNEL_QUERIES)

    def reset(self) -> None:
        """Start the per-query times afresh (at the start of timing)."""
        self.query_s = dict.fromkeys(KERNEL_QUERIES, 0.0)

    def stored_bytes_per_row(self) -> float:
        import pyarrow.compute as pc

        m = self.out["gorilla_metrics"]
        return pc.sum(m["enc_bytes"]).as_py() / pc.sum(m["n_points"]).as_py()

    def check(self) -> list[str]:
        from perfbench import checks

        return checks.check_kernels(self.inp, self.out)


class Drain:
    """Small late-data waves landed one at a time into materialized tiers,
    each drained the way ``jobs/run_upsert_stream.py --once`` does it: an
    ``availableNow`` file stream over the landing dir, with a persistent
    checkpoint so each drain reads only the new file, and
    ``upsert.upsert_batch_cascade`` per micro-batch."""

    name = "drain"

    def __init__(self, spark, inp: str, work: str):
        self.spark, self.inp = spark, inp
        self.waves = sorted(
            f for f in os.listdir(os.path.join(inp, "waves")) if f.startswith("turns-")
        )
        self.next_wave = 0
        self.landing = os.path.join(work, "landing")
        self.tier = {t: os.path.join(work, "tiers", t) for t in TIERS}
        self.checkpoint = os.path.join(work, "checkpoint")

    def _land(self, src: str, name: str) -> int:
        shutil.copyfile(src, os.path.join(self.landing, f"part-{name}"))
        return pq.read_metadata(src).num_rows

    def _drain(self) -> None:
        from pyspark.sql import types as T

        from aisdb_spark.sources.normalize import ensure_ltz
        from aisdb_spark.streaming import upsert

        spark = self.spark
        schema = T.StructType(
            [
                T.StructField("conv_id", T.StringType()),
                T.StructField("turn_idx", T.IntegerType()),
                T.StructField("ts", T.TimestampNTZType()),
                T.StructField("value", T.LongType()),
            ]
        )
        src = ensure_ltz(spark.readStream.schema(schema).parquet(self.landing))
        coarser = {t: self.tier[t] for t in ("1h", "1d")}
        q = (
            src.writeStream.foreachBatch(
                lambda b, e: upsert.upsert_batch_cascade(
                    spark, b, self.tier["1min"], coarser, epoch_id=e
                )
            )
            .option("checkpointLocation", self.checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def setup(self) -> None:
        """Materialize the tiers from the on-time turns: the first drain."""
        os.makedirs(self.landing)
        self.rows = self._land(os.path.join(self.inp, "turns.parquet"), "base.parquet")
        self._drain()

    def op(self) -> tuple[int, int]:
        if self.next_wave == len(self.waves):
            raise RuntimeError("the generated input has no wave left")
        name = self.waves[self.next_wave]
        self.next_wave += 1
        rows = self._land(os.path.join(self.inp, "waves", name), name)
        self._drain()
        self.rows += rows
        return rows, 1

    def reset(self) -> None:
        pass

    def stored_bytes_per_row(self) -> float:
        return sum(dir_bytes(d, ".parquet") for d in self.tier.values()) / self.rows

    def check(self) -> list[str]:
        from perfbench import checks

        return checks.check_drain(self.landing, self.tier)


WORKLOADS = {w.name: w for w in (Kernels, Drain)}
