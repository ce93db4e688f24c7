"""Streaming-drain bench at 20M events (round-3 verdict item 5).

The two registry drain queries are only measured at sf0.1, where harness
overhead dominates (they regressed to ~4.6 s there when round 3 replaced
the complete-mode memory sinks with real tier upserts). This bench runs
the SAME drain machinery over a 20M-event landing corpus in multiple
micro-batches at local[8] (N) vs local[32] (4N), fresh JVM per level, and
measures the claim the round-3 code only argued: per-batch upsert cost is
proportional to the touched partitions/keys, not to tier size.

Protocol per level:
- the sf0.1 events table replicated 200x (user_id/event_id offset per rep
  so the key space scales too: 20M events, 300k users, 30 days);
- six UNIFORM waves (hash split) — each touches all 30 day partitions,
  the worst case for the merge (tier read-back grows every wave);
- one TINY late wave — the first day's rows of one replica (~330 rows,
  1 partition): if per-batch cost tracked tier size this wave would cost
  like wave 6; if it tracks touched partitions it is near-constant-time;
- ONE availableNow drain with maxFilesPerTrigger = files-per-wave, so
  each wave is its own micro-batch through the real state-store path
  (update-mode deliveries, exactly drained_rollup_1min's machinery); the
  foreachBatch body is wrapped with per-batch timing + touched-partition
  accounting;
- the same waves then feed the session drain (sessionize + algebraic
  interval merge into the session tier).

Updates BENCH_LARGE.json in place under the "streaming_drain" key.

Usage: python bench_stream_drain.py              # both levels + summary
       python bench_stream_drain.py --worker N   # one level (internal)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPLICATION = int(os.environ.get("SPARK_GRAFT_SCALE_REP", "200"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
LEVELS = (8, 32)
UNIFORM_WAVES = 6


def build_events(spark, rep: int):
    from pyspark.sql import functions as F

    from aisdb_spark.sources.normalize import read_parquet

    ev = read_parquet(spark, f"{SF_DIR}/events.parquet")
    reps = spark.range(rep).select(F.col("id").alias("rep"))
    return (
        ev.crossJoin(reps)
        .withColumn("user_id", F.col("user_id") + F.col("rep") * 1_000_000)
        .withColumn("event_id", F.col("event_id") + F.col("rep") * 1_000_000_000)
        .drop("rep")
    )


def worker(cpus: int) -> None:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from aisdb_spark.session import get_spark
    from aisdb_spark.streaming import rollup_stream as rs

    spark = get_spark(f"drain-{cpus}", cpus=cpus, shuffle_partitions=cpus * 2)
    ev = build_events(spark, REPLICATION).cache()
    n = ev.count()
    base = tempfile.mkdtemp(prefix=f"bench_drain_{cpus}_")
    landing = f"{base}/landing"

    # landing waves: 6 uniform hash splits + 1 tiny single-day late wave
    t0 = time.monotonic()
    for w in range(UNIFORM_WAVES):
        (
            ev.filter(F.pmod(F.xxhash64("event_id"), F.lit(UNIFORM_WAVES)) == w)
            .repartition(8)
            .write.parquet(f"{landing}/w{w}")
        )
    tiny = ev.filter(
        (F.col("event_id") < 1_000_000_000)  # one replica only
        & (F.to_date("ts") == F.lit("2024-01-01"))
    ).cache()
    tiny_rows = tiny.count()
    tiny.coalesce(1).write.parquet(f"{landing}/w_tiny")
    prep_sec = time.monotonic() - t0

    # THE REAL DRAIN: readStream over the landing dir, state-store windowed
    # aggregation, update-mode foreachBatch tier upserts — exactly the
    # registry path (drained_rollup_1min), with maxFilesPerTrigger sized so
    # each wave is its own micro-batch and the foreachBatch body wrapped
    # with timing + touched-partition accounting.
    from aisdb_spark.sources.normalize import ensure_ltz

    def timed_upsert(upsert_fn, stats):
        def body(b, e):
            b.persist()
            rows = b.count()
            tcol = "ts" if "ts" in b.columns else "bucket_start"
            days = b.select(F.to_date(tcol)).distinct().count()
            t0 = time.monotonic()
            upsert_fn(b, e)
            stats.append(
                {
                    "epoch": int(e),
                    "updated_keys": rows,
                    "touched_days": days,
                    "sec": round(time.monotonic() - t0, 2),
                }
            )
            b.unpersist()

        return body

    # rollup drain = the round-4 registry path: RAW events through
    # foreachBatch, algebraic partial merge into the tier (tier-as-state,
    # NO streaming state store). The round-3 state-store drain measured
    # here first anti-scaled — 20M keys in the HDFSBackedStateStore made
    # local[32] 3x slower than local[8] (kept in the JSON as
    # "replaced_statestore_drain") — which is what motivated the rewrite.
    rollup_tier, rollup_ck = f"{base}/rollup_tier", f"{base}/rollup_ck"
    wave_stats: list = []
    t_roll0 = time.monotonic()
    q = (
        ensure_ltz(
            spark.readStream.schema(rs.EVENTS_SCHEMA)
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "part-*.parquet")
            .option("maxFilesPerTrigger", "8")  # = files per wave
            .parquet(landing)
        )
        .writeStream.foreachBatch(
            timed_upsert(
                lambda b, e: rs.upsert_rollup_partials_batch(
                    spark, b, rollup_tier, epoch_id=e
                ),
                wave_stats,
            )
        )
        .option("checkpointLocation", rollup_ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rollup_sec = time.monotonic() - t_roll0
    tier_rows = spark.read.parquet(rollup_tier).count()

    # session drain: raw events through foreachBatch, per-batch
    # sessionization + algebraic interval merge (drained_user_sessions)
    sess_tier, sess_ck = f"{base}/sess_tier", f"{base}/sess_ck"
    sess_stats: list = []
    t_sess0 = time.monotonic()
    q = (
        ensure_ltz(
            spark.readStream.schema(rs.EVENTS_SCHEMA)
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "part-*.parquet")
            .option("maxFilesPerTrigger", "8")
            .parquet(landing)
        )
        .writeStream.foreachBatch(
            timed_upsert(
                lambda b, e: rs.upsert_sessions_batch(
                    spark, rs.sessionize_events(b), sess_tier, epoch_id=e
                ),
                sess_stats,
            )
        )
        .option("checkpointLocation", sess_ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sess_sec = time.monotonic() - t_sess0
    sess_rows = spark.read.parquet(sess_tier).count()

    # decomposition of one worst-case uniform wave: the merge COMPUTE
    # (batch agg + union + merge-agg, noop sink) vs the tier REWRITE
    # (parquet zstd of the full merged output) — attributes the uniform
    # waves' cost between scalable compute and this VM's shared-disk IO
    from aisdb_spark.sources.normalize import read_parquet as _rp

    w5 = _rp(spark, f"{landing}/w5")
    newp = rs.rollup_partials_events(w5)
    merged = rs.merge_rollup_partials(
        spark.read.parquet(rollup_tier)
        .select("bucket_start", "user_id", *rs._ROLLUP_PARTIAL_COLS)
        .unionByName(newp)
    )
    t0 = time.monotonic()
    merged.write.format("noop").mode("overwrite").save()
    merge_compute_sec = round(time.monotonic() - t0, 2)
    t0 = time.monotonic()
    merged.withColumn("bucket_date", F.to_date("bucket_start")).write.mode(
        "overwrite"
    ).partitionBy("bucket_date").parquet(f"{base}/scratch_tier")
    rewrite_sec = round(time.monotonic() - t0, 2)

    shutil.rmtree(base, ignore_errors=True)
    print(
        json.dumps(
            {
                "cpus": cpus,
                "n_events": n,
                "tiny_rows": tiny_rows,
                "prep_sec": round(prep_sec, 2),
                "uniform_wave_decomposition": {
                    "merge_compute_noop_sec": merge_compute_sec,
                    "tier_rewrite_parquet_sec": rewrite_sec,
                },
                "rollup": {
                    "total_sec": round(rollup_sec, 2),
                    "rows_per_sec": round(n / rollup_sec, 1),
                    "tier_rows": tier_rows,
                    "waves": wave_stats,
                },
                "sessions": {
                    "total_sec": round(sess_sec, 2),
                    "rows_per_sec": round(n / sess_sec, 1),
                    "tier_rows": sess_rows,
                    "waves": sess_stats,
                },
            }
        )
    )


def main() -> None:
    results = {}
    for cpus in LEVELS:
        out = subprocess.run(
            [sys.executable, __file__, "--worker", str(cpus)],
            capture_output=True, text=True, timeout=5400,
        )
        if out.returncode != 0:
            print(out.stderr[-4000:], file=sys.stderr)
            sys.exit(1)
        results[cpus] = json.loads(out.stdout.strip().splitlines()[-1])
    n_, f_ = results[min(results)], results[max(results)]
    factor = max(results) // min(results)

    def eff(section):
        return round(
            n_[section]["total_sec"] / (factor * f_[section]["total_sec"]), 3
        )

    def tiny_vs_uniform(section):
        # the tiny single-day wave was landed LAST, so it is the final
        # micro-batch (file source batches in modification-time order)
        waves = sorted(f_[section]["waves"], key=lambda w: w["epoch"])
        uniform, tiny = [w["sec"] for w in waves[:-1]], waves[-1]
        return {
            "uniform_wave_sec_mean": round(sum(uniform) / len(uniform), 2),
            "last_uniform_wave_sec": uniform[-1],
            "tiny_wave_sec": tiny["sec"],
            "tiny_wave_updated_keys": tiny["updated_keys"],
            "tiny_wave_touched_days": tiny["touched_days"],
        }

    summary = {
        "metric": (
            f"multi-micro-batch drain of {n_['n_events']} events "
            f"({UNIFORM_WAVES} uniform waves + 1 single-day late wave), "
            f"local[{min(LEVELS)}] vs local[{max(LEVELS)}], fresh JVM per "
            "level; per-wave upsert timed directly (= the foreachBatch body)"
        ),
        "n_events": n_["n_events"],
        "localN": n_,
        "local4N": f_,
        "rollup_efficiency": eff("rollup"),
        "sessions_efficiency": eff("sessions"),
        "uniform_wave_decomposition": {
            "localN": n_.get("uniform_wave_decomposition"),
            "local4N": f_.get("uniform_wave_decomposition"),
        },
        "cost_proportionality_rollup": tiny_vs_uniform("rollup"),
        "cost_proportionality_sessions": tiny_vs_uniform("sessions"),
        "note": (
            "cost ∝ touched partitions/keys: the tiny late wave (1 day, "
            "~0.002% of rows) lands against the FULL tier; if per-batch "
            "cost tracked tier size it would cost like a uniform wave — "
            "the measured ratio is the claim's evidence. Uniform waves are "
            "the worst case (every wave touches all 30 day partitions, so "
            "each merge re-reads the whole tier); real late traffic looks "
            "like the tiny wave."
        ),
    }
    try:
        with open("BENCH_LARGE.json") as f:
            doc = json.load(f)
    except (OSError, ValueError):
        doc = {}
    # preserve the measured round-3 state-store drain (the motivation for
    # the partial-merge rewrite) the first time we replace it
    prev = doc.get("streaming_drain")
    if prev and "replaced_statestore_drain" not in doc:
        doc["replaced_statestore_drain"] = {
            "note": (
                "round-3 drain: stateful update-mode aggregation + "
                "replace-by-key upsert, measured before the round-4 "
                "partial-merge rewrite; 20M keys accumulated in the "
                "HDFSBackedStateStore (no watermark on a finite drain) "
                "and per-partition delta+snapshot IO made 4N SLOWER "
                "than N"
            ),
            "rollup_efficiency": prev.get("rollup_efficiency"),
            "rollup_total_sec_localN": prev["localN"]["rollup"]["total_sec"],
            "rollup_total_sec_local4N": prev["local4N"]["rollup"]["total_sec"],
        }
    doc["streaming_drain"] = summary
    with open("BENCH_LARGE.json", "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({k: v for k, v in summary.items()
                      if k not in ("localN", "local4N")}))


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--worker":
        worker(int(sys.argv[2]))
    else:
        main()
