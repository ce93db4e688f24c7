"""Synthesize an sfN-like testdata directory by replicating sf0.1 with
key-space offsets — used by the round-6 10x end-to-end smoke
(`scaling_runs/r6_bench_10x_*.json`): the FROZEN bench.py must complete
cleanly if the driver measures at a larger, driver-generated SF.

NOT part of the driver contract. /root/testdata is read-only and never
modified; output goes to a fresh directory (tmpfs by default).

Replication rules (REPS copies of every fact table):
- events: user_id / event_id offset per replica (key space grows with
  data);
- documents: doc_id offset; text gets a per-replica token appended so
  replicas are near- (not exact-) duplicates, and n_chars is recomputed
  so that n_chars == utf8_length(text) holds as in the source;
- embeddings: vec_id offset (vectors unchanged — conservative for the
  LSH families: replicas share buckets);
- orders/lineitem: o_orderkey / l_orderkey offset;
- dims (region/nation/supplier/part/customer): copied as-is.

Usage: python bench_synth_sf_r6.py [reps] [dst]   # default 10 /dev/shm/sf1x
Then:  SPARK_GRAFT_SF_DIR=<dst> python bench.py
"""

import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
REPS = int(sys.argv[1]) if len(sys.argv) > 1 else 10
DST = sys.argv[2] if len(sys.argv) > 2 else "/dev/shm/sf1x"


def maxv(name: str, col: str) -> int:
    t = pq.read_table(f"{SRC}/{name}.parquet", columns=[col])
    return pc.max(t.column(col)).as_py()


def repl(name: str, offsets: dict, textcol: str | None = None) -> None:
    tbl = pq.read_table(f"{SRC}/{name}.parquet")
    outs = []
    for r in range(REPS):
        t = tbl
        for col, k in offsets.items():
            idx = t.schema.get_field_index(col)
            t = t.set_column(idx, col, pc.add(t.column(col), r * k))
        if textcol is not None and r > 0:
            idx = t.schema.get_field_index(textcol)
            suffixed = pc.binary_join_element_wise(
                pc.cast(t.column(textcol), pa.string()), f" rep{r}", " "
            )
            t = t.set_column(idx, textcol, suffixed)
            # the text table's n_chars is utf8_length(text) in the source
            idx = t.schema.get_field_index("n_chars")
            n_chars = pc.cast(pc.utf8_length(suffixed), t.schema.field(idx).type)
            t = t.set_column(idx, "n_chars", n_chars)
        outs.append(t)
    big = pa.concat_tables(outs)
    pq.write_table(big, f"{DST}/{name}.parquet")
    print(name, big.num_rows)


def main() -> None:
    shutil.rmtree(DST, ignore_errors=True)
    os.makedirs(DST)
    for t in ("region", "nation", "supplier", "part", "customer"):
        shutil.copy(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")
    repl(
        "events",
        {"user_id": maxv("events", "user_id") + 1,
         "event_id": maxv("events", "event_id") + 1},
    )
    repl("documents", {"doc_id": maxv("documents", "doc_id") + 1}, textcol="text")
    repl("embeddings", {"vec_id": maxv("embeddings", "vec_id") + 1})
    ko = maxv("orders", "o_orderkey") + 1
    repl("orders", {"o_orderkey": ko})
    repl("lineitem", {"l_orderkey": ko})
    open(f"{DST}/_DONE", "w").close()
    print("wrote", DST)


if __name__ == "__main__":
    main()
