"""spark-submit entry point: the full retention pipeline as a cluster job.

    python -c "from aisdb_spark.dist import package_zip; package_zip()"
    spark-submit --master <cluster> --py-files dist/aisdb_spark.zip \
        jobs/run_cascade.py --input /data/sf0.1 --output /data/tiers

Runs: transcripts load → dedup → gap segmentation → materialized
raw→1min→1h→1d cascade (checkpoint/resume manifests) → Gorilla-compressed
per-conversation blobs → metrics JSON on stdout. Master/memory/executors
come from spark-submit; the script only declares the plan.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="dir with events.parquet")
    ap.add_argument("--output", required=True, help="tier output root")
    ap.add_argument("--gap-seconds", type=int, default=3600)
    ap.add_argument("--force", action="store_true")
    ap.add_argument(
        "--retention-keep-days",
        default=None,
        help=(
            "comma list tier=days (e.g. 1min=30,1h=180,1d=3650); cutoff is "
            "relative to the corpus max date, so runs are deterministic"
        ),
    )
    ap.add_argument(
        "--compact-target-mb",
        type=int,
        default=None,
        help="bin-pack fragmented day partitions of the 1min tier",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("transcript-cascade").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from aisdb_spark import checkpoint
    from aisdb_spark.operators import codec, dedup, segmentation
    from aisdb_spark.sources.transcripts import load_transcripts, with_value

    tv = with_value(dedup.dedup_turns(load_transcripts(spark, args.input)))
    tiers = checkpoint.materialize_cascade(spark, tv, args.output, force=args.force)
    seg = segmentation.segment_bounds(
        segmentation.gap_split(tv, args.gap_seconds)
    )
    n_segments = seg.count()
    maintenance_report = {}
    if args.retention_keep_days or args.compact_target_mb:
        import datetime as dt
        import os

        from pyspark.sql import functions as F

        from aisdb_spark import maintenance

        tier_dirs = {
            t: os.path.join(args.output, t) for t in ("1min", "1h", "1d")
        }
        if args.compact_target_mb:
            maintenance_report["compaction"] = maintenance.compact_tier(
                spark,
                tier_dirs["1min"],
                target_bytes=args.compact_target_mb << 20,
            )
        if args.retention_keep_days:
            max_date = tv.agg(F.max(F.to_date("ts"))).collect()[0][0]
            cutoffs = {}
            for part in args.retention_keep_days.split(","):
                tier, days = part.split("=")
                cutoffs[tier.strip()] = max_date - dt.timedelta(
                    days=int(days) - 1
                )
            maintenance_report["retention"] = maintenance.enforce_retention(
                tier_dirs, cutoffs
            )
    enc = codec.compress(tv)
    stats = enc.agg(
        {"n_points": "sum", "raw_bytes": "sum", "enc_bytes": "sum"}
    ).collect()[0]
    print(
        json.dumps(
            {
                "tiers": tiers,
                "n_segments": n_segments,
                **(
                    {"maintenance": maintenance_report}
                    if maintenance_report
                    else {}
                ),
                "codec": {
                    "points": int(stats["sum(n_points)"]),
                    "raw_bytes": int(stats["sum(raw_bytes)"]),
                    "enc_bytes": int(stats["sum(enc_bytes)"]),
                    "ratio": round(
                        stats["sum(raw_bytes)"] / max(stats["sum(enc_bytes)"], 1), 3
                    ),
                },
            }
        )
    )


if __name__ == "__main__":
    main()
