"""spark-submit entry point: incremental landing-dir → tier upsert stream.

    python -c "from aisdb_spark.dist import package_zip; package_zip()"
    spark-submit --master <cluster> --py-files dist/aisdb_spark.zip \
        jobs/run_upsert_stream.py --landing /data/landing \
        --tiers /data/tiers --checkpoint /data/ck [--once]

Drains new raw-turn parquet files from the landing directory through the
``foreachBatch`` upsert into the mergeable-partial 1min tier, with the
1h/1d rows of the affected days derived from the merged 1min rows and
committed first (streaming/upsert.py). ``--once`` uses availableNow
(drain-and-exit — cron-able); without it the stream runs continuously
with a processingTime trigger. A killed run resumes from the checkpoint
with no missed files: a micro-batch cut short is rolled back by the
journaled swap and replayed, and a committed one is skipped by the 1min
tier's epoch record (effectively-once; streaming/txn.py) — the
deployment surface of the late-data path (reference precedent: the
receiver's continuous insert loop, ``aisdb/receiver.py:6-57``, with
PK-absorbed late data, ``aisdb/database/decoder.py:199-259``).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--landing", required=True, help="raw-turn parquet landing dir")
    ap.add_argument("--tiers", required=True, help="tier output root")
    ap.add_argument("--checkpoint", required=True, help="stream checkpoint dir")
    ap.add_argument("--glob", default="part-*.parquet")
    ap.add_argument("--once", action="store_true", help="availableNow drain, then exit")
    ap.add_argument("--interval", default="30 seconds", help="continuous trigger")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import types as T

    spark = SparkSession.builder.appName("transcript-upsert-stream").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from aisdb_spark.sources.normalize import read_parquet_stream
    from aisdb_spark.streaming import fsio
    from aisdb_spark.streaming import upsert as ups

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.LongType()),
        ]
    )
    tier_1min = fsio.join(args.tiers, "1min")
    coarser = {t: fsio.join(args.tiers, t) for t in ("1h", "1d")}

    src = read_parquet_stream(
        spark, args.landing, schema, args.glob, recursive=True
    )

    n_batches = {"n": 0, "days": 0}

    def _apply(batch, epoch):
        days = ups.upsert_batch_cascade(
            spark, batch, tier_1min, coarser, epoch_id=epoch
        )
        n_batches["n"] += 1
        n_batches["days"] += days

    writer = src.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", args.checkpoint
    )
    if args.once:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        rows = (
            spark.read.parquet(tier_1min).count()
            if fsio.tier_nonempty(spark, tier_1min)
            else 0
        )
        print(
            json.dumps(
                {
                    "batches": n_batches["n"],
                    "affected_days": n_batches["days"],
                    "tier_1min_rows": rows,
                }
            )
        )
    else:
        q = writer.trigger(processingTime=args.interval).start()
        q.awaitTermination()


if __name__ == "__main__":
    main()
