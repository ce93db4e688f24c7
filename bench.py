"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

The flagship metric is the north rule's: rollup throughput (turns/sec
through the full raw→1min→1h→1d materialized cascade) plus sec/tier.
Each headline query is executed to completion with a noop sink (full
pipeline cost, no driver collect skew).

`query_variants` annotates the queries that carry multiple folded registry
variants (round-4 fold), so a future reader doesn't misread content growth
as regression. Per-layer timings and the host's steal and busy CPU come
from perfbench (perfbench/README.md).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

SF_DIR = os.environ["SPARK_GRAFT_SF_DIR"]
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "rollup_1min",
    "gap_segments",
    "dedup_turns",
    "turn_deltas",
    "transition_edges",
    "conv_meta",
    "interp_time_10min",
    "ewma_03",
    "gorilla_roundtrip",
    "asof_last_tool",
    "downsample_every_5",
    "time_in_range",
    "minhash_lsh_pairs",
    "simhash_near_pairs",
    "text_analysis",
    "exact_dedup",
    "ann_brute_force_top10",
    "cosine_near_pairs",
    "pricing_summary",
    "orders_by_nation",
    "encode_pathways",
    "interp_cubic_spline",
    "streaming_rollup_1min",
    "streaming_user_sessions",
    "salted_rollup_1min",
    "ngram_jaccard_pairs",
    "ann_lsh_top10",
    "lttb_64",
    "vw_decimate",
    "asof_rate_lookup",
]


# queries that fold several registry variants into one timed entry
# (round-4 registry fold): their absolute time covers MORE work than the
# same key did in BENCH_r01-r03 — annotate so growth isn't misread
QUERY_VARIANTS = {
    "gorilla_roundtrip": "2 codec passes: whole and 40-turn chunks, mapInArrow",
    "salted_rollup_1min": "2 inputs: uniform + adversarial-skew union",
    "turn_deltas": "+4 scalar-surface columns (shiftcoord/dt_2_epoch/sanitize)",
    "streaming_user_sessions": "adaptive-horizon bookkeeping since r4",
}


def main() -> None:
    from aisdb_spark import checkpoint
    from aisdb_spark.queries import QUERIES
    from aisdb_spark.session import get_spark
    from aisdb_spark.sources.transcripts import load_transcripts, with_value

    spark = get_spark("bench", cpus=CPUS)
    tv = with_value(load_transcripts(spark, SF_DIR))
    n_turns = tv.count()  # also warms the events scan

    timings: dict[str, float] = {}

    # --- flagship: materialized retention cascade (sec/tier) ---
    cascade_sec = float("inf")
    for _ in range(2):  # best-of-2 (transient VM noise)
        tier_dir = tempfile.mkdtemp(prefix="bench_tiers_")
        try:
            t0 = time.monotonic()
            tiers = checkpoint.materialize_cascade(spark, tv, tier_dir, force=True)
            run_sec = time.monotonic() - t0
        finally:
            shutil.rmtree(tier_dir, ignore_errors=True)
        if run_sec < cascade_sec:
            cascade_sec = run_sec
            for name, m in tiers.items():
                timings[f"tier_{name}"] = m["seconds"]

    # --- headline operator queries (noop sink = full execution) ---
    # warm python workers + documents/embeddings page cache once
    QUERIES["text_analysis"](spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    QUERIES["ewma_03"](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    for name in HEADLINE:
        fn = QUERIES[name]
        best = float("inf")
        for _ in range(2):  # best-of-2: the sandbox VM has transient noise
            t0 = time.monotonic()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            best = min(best, time.monotonic() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "rollup turns/sec through raw->1min->1h->1d cascade + headline operator latencies",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "n_turns": n_turns,
        "cascade_sec": round(cascade_sec, 3),
        "turns_per_sec": round(n_turns / cascade_sec, 1),
        "cpus": CPUS,
        "query_variants": QUERY_VARIANTS,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    sys.exit(main())
