"""One per-entity Python route: JVM-sorted Arrow batches and one carry loop.

AISdb's ``TrackGen`` (``aisdb/track_gen.py:104-164``) turns a stream sorted
by (mmsi, time) into one track per vessel by cutting the stream wherever
the mmsi changes. The same shape here:

- :func:`sorted_by`: the JVM hash-partitions the rows on the entity key
  and sorts them within each partition, so every entity reaches one task
  whole and in order;
- :func:`chunks`: one carry loop over the sorted Arrow batches of a
  ``mapInArrow`` stage cuts them at key changes. The last entity of a
  batch may go on in the next one, so it is held over: a task holds one
  batch plus the open entity, however many entities it sees;
- :func:`apply_per_entity`: runs a batch kernel once per cut batch, on
  all its whole entities at once, and returns one Arrow batch per cut
  batch.

The Python boundary is paid once per Arrow batch, not once per group, and
kernels vectorize across the entities of a batch (the rule of
*Accelerating Python UDFs in Vectorized Query Execution*, CIDR 2022). No
task holds more than one entity beyond its batch (the grouped-map route
held a whole hash shard, hot keys included, as one pandas frame).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string


def sorted_by(df: DataFrame, key: str, order: list[str], cols: list[str]) -> DataFrame:
    """``key`` and ``cols`` of ``df``, hash-partitioned on ``key`` and sorted
    by (key, *order) within each partition. Order columns not in ``cols``
    are dropped after the sort, one column less through the Arrow pipe."""
    spark = df.sparkSession
    # explicit count: AQE coalesces a bare repartition(key) to JVM-sized
    # (~1 MB) partitions, which at small inputs runs the whole Python stage
    # on one worker. The count holds only where this repartition is kept:
    # on an input already hash-partitioned on ``key`` (a window over
    # ``key``, as after gap_split) the planner drops it, and AQE coalesces
    # the window's exchange instead
    n = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
        spark.sparkContext.defaultParallelism,
    )
    return (
        df.select(key, *dict.fromkeys([*order, *cols]))
        .repartition(n, key)
        .sortWithinPartitions(key, *order)
        .select(key, *cols)
    )


def chunks(it, max_rows: int | None = None):
    """``(batch, starts, chunk_ids)`` over key-sorted Arrow batches whose
    first column is the key.

    A chunk starts at each new key and, with ``max_rows``, at every
    ``max_rows``-th row of a key; ``starts`` are the chunks' first rows in
    ``batch`` and ``chunk_ids`` count a key's chunks from 0. The last key
    of a batch may go on in the next one, so only its whole chunks (none
    without ``max_rows``) are yielded and the rest is held back: a task
    holds one batch plus fewer than ``max_rows`` held rows."""
    m = max_rows or 1 << 62  # no max_rows: one chunk per key
    held = None  # the open chunk
    open_key, done = None, 0  # the batch's last key, its rows yielded
    for rb in it:
        if rb.num_rows == 0:
            continue
        if held is not None and held.num_rows:
            rb = pa.Table.from_batches([held, rb]).combine_chunks().to_batches()[0]
        key = rb.column(0).to_numpy(zero_copy_only=False)
        n = len(key)
        key_start = np.flatnonzero(np.append(True, key[1:] != key[:-1]))
        lens = np.diff(key_start, append=n)
        pos = np.arange(n) - np.repeat(key_start, lens)  # row within key
        if key[0] == open_key:
            pos[: lens[0]] += done
        cut = n - int(pos[-1] + 1) % m
        if cut:
            starts = np.flatnonzero(pos[:cut] % m == 0)
            yield rb.slice(0, cut), starts, pos[starts] // m
        held = rb.slice(cut)
        open_key, done = key[-1], int(pos[-1]) + 1 - (n - cut)
    if held is not None and held.num_rows:
        yield held, np.zeros(1, np.int64), np.array([done // m])


def columns(rb: pa.RecordBatch, keep: np.ndarray | None = None) -> dict:
    """The columns of ``rb`` by name; only the rows of mask ``keep`` if given."""
    if keep is not None:
        rb = rb.filter(pa.array(keep))
    return dict(zip(rb.schema.names, rb.columns))


def micros(col: pa.Array) -> np.ndarray:
    """A timestamp column as int64 µs since the epoch."""
    return col.cast(pa.int64()).to_numpy(zero_copy_only=False)


def _apply_batches(it, kernel: Callable, schema: pa.Schema):
    """One ``schema`` batch per cut batch of ``it`` that has output:
    ``kernel(batch, starts)`` runs once per cut batch, whose whole entities
    start at rows ``starts``, and returns its output columns by name, or
    None for no output."""
    for rb, starts, _ in chunks(it):
        cols = kernel(rb, starts)
        if cols is not None:
            out = pa.RecordBatch.from_pydict(cols, schema=schema)
            if out.num_rows:
                yield out


def apply_per_entity(
    df: DataFrame,
    kernel: Callable[[pa.RecordBatch, np.ndarray], dict | None],
    schema: str,
    order: list[str],
) -> DataFrame:
    """Run ``kernel(batch, starts)`` over the conversations of ``df``, sorted
    by ``order``: ``batch`` holds whole conversations (conv_id first), the
    i-th starting at row ``starts[i]``. The kernel returns a dict of output
    columns (numpy or Arrow arrays) or None; ``schema`` is their DDL."""
    out = _parse_datatype_string(schema)
    # Spark takes µs timestamps only: build the batches against the Spark
    # schema's Arrow twin (int64 µs columns cast to its timestamps)
    fn = partial(_apply_batches, kernel=kernel, schema=to_arrow_schema(out))
    cols = [c for c in df.columns if c != "conv_id"]
    return sorted_by(df, "conv_id", order, cols).mapInArrow(fn, out)
