"""Ingest bench: the decode-rate analog at scale.

The reference's headline ingest metric is its decoder's rows/sec
(``aisdb_lib/src/decode.rs:228-257`` prints a decode rate per file batch);
the registry only exercises our ingest surfaces at sf0.01 where harness
overhead dominates. This bench measures the two ingest routes on real
files at 20M / 5M turns, local[8] (N) vs local[32] (4N), fresh JVM per
level:

- ``csv_gz_parse`` — schema-locked ``spark.read.csv`` over 64 .csv.gz
  shards (20M turns): the JVM-native path; gzip is not splittable, so
  shard count (not file size) sets the parallelism ceiling — 64 shards
  keep all 32 cores fed at 4N, the same layout rule a 1000-executor
  ingest would use.
- ``zip_ingest`` — ``binaryFile`` scan + in-executor ``zipfile`` +
  pandas RFC-4180 parse over 32 .zip archives (5M turns): the
  distributed-unzip path (archives never touch the driver or a shared
  temp dir).
- ``checksum_filter`` — ``IngestLedger.filter_new`` over all 96 files:
  the md5-head dedup gate; cost is O(files) ranged head reads (~1 ms
  each), never O(bytes) — the number that proves re-scanning a seen
  100 TB landing zone is free.

Inputs are generated once (deterministically, from the same replicated
sf0.1 corpus as bench_scaling.py) into SPARK_GRAFT_INGEST_DIR
(default /tmp/ingest_bench_data) and reused across levels; prep time is
reported separately and excluded from the stage timings. Files sit in
page cache on this box, so the stages measure parse/decompress compute —
exactly the decode-rate definition the reference uses (its benches read
warm files too).

Updates BENCH_LARGE.json in place under the "ingest_large" key.

Usage: python bench_ingest_large.py              # prep + both levels
       python bench_ingest_large.py --worker N   # one level (internal)
       python bench_ingest_large.py --prep       # just (re)build inputs
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPLICATION = int(os.environ.get("SPARK_GRAFT_SCALE_REP", "200"))
ZIP_REPLICATION = max(REPLICATION // 4, 1)  # zip route: 5M turns at default
DATA_DIR = os.environ.get("SPARK_GRAFT_INGEST_DIR", "/tmp/ingest_bench_data")
GZ_SHARDS = int(os.environ.get("SPARK_GRAFT_INGEST_SHARDS", "64"))
ZIP_ARCHIVES = int(os.environ.get("SPARK_GRAFT_INGEST_ZIPS", "32"))
LEVELS = (8, 32)
REP_CUTOFF_S = float(os.environ.get("SPARK_GRAFT_REP_CUTOFF", "120"))


def _csv_writer(df, shards: int):
    from aisdb_spark.sources.io import CSV_COLUMNS, _CSV_OPTS

    return (
        df.select(*CSV_COLUMNS)
        .repartition(shards)
        .write.mode("overwrite")
        .options(**_CSV_OPTS)
    )


def prep() -> dict:
    """Materialize the CSV.gz shards and zip archives once."""
    import glob
    import shutil
    import zipfile

    import bench_scaling as bs
    from aisdb_spark.session import get_spark

    spark = get_spark("ingest-prep", cpus=32, shuffle_partitions=64)
    t0 = time.monotonic()

    gz_dir = f"{DATA_DIR}/csv_gz"
    tv = bs.build_corpus(spark, REPLICATION)
    _csv_writer(tv, GZ_SHARDS).option("compression", "gzip").csv(gz_dir)
    n_gz = tv.count()

    plain_dir = f"{DATA_DIR}/csv_plain"
    tvz = bs.build_corpus(spark, ZIP_REPLICATION)
    _csv_writer(tvz, ZIP_ARCHIVES).csv(plain_dir)
    n_zip = tvz.count()

    zip_dir = f"{DATA_DIR}/zips"
    shutil.rmtree(zip_dir, ignore_errors=True)
    os.makedirs(zip_dir)
    for i, member in enumerate(sorted(glob.glob(f"{plain_dir}/part-*.csv"))):
        with zipfile.ZipFile(f"{zip_dir}/batch_{i:03d}.zip", "w",
                             zipfile.ZIP_DEFLATED) as zf:
            zf.write(member, arcname=os.path.basename(member))
    shutil.rmtree(plain_dir)

    meta = {
        "n_turns_gz": n_gz,
        "n_turns_zip": n_zip,
        "gz_shards": GZ_SHARDS,
        "zip_archives": ZIP_ARCHIVES,
        "gz_bytes": sum(
            os.path.getsize(p) for p in glob.glob(f"{gz_dir}/part-*.csv.gz")
        ),
        "zip_bytes": sum(
            os.path.getsize(p) for p in glob.glob(f"{zip_dir}/*.zip")
        ),
        "prep_sec": round(time.monotonic() - t0, 1),
    }
    with open(f"{DATA_DIR}/meta.json", "w") as f:
        json.dump(meta, f)
    spark.stop()
    return meta


def worker(cpus: int) -> None:
    import glob

    from aisdb_spark.session import get_spark
    from aisdb_spark.sources import io as aio

    with open(f"{DATA_DIR}/meta.json") as f:
        meta = json.load(f)
    spark = get_spark(f"ingest-{cpus}", cpus=cpus, shuffle_partitions=cpus * 2)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    # warm the Python worker pool before timing: at local[32] the first
    # pandas stage otherwise pays ~4-5 s forking 32 workers (reuse keeps
    # them alive across jobs), which lands inside zip_ingest's first rep
    # and can survive best-of-2 if noise hits the second
    noop(spark.range(cpus * 4).repartition(cpus).mapInPandas(
        lambda it: it, "id long"
    ))

    gz_files = sorted(glob.glob(f"{DATA_DIR}/csv_gz/part-*.csv.gz"))
    zip_files = sorted(glob.glob(f"{DATA_DIR}/zips/*.zip"))

    stages = {
        "csv_gz_parse": (
            meta["n_turns_gz"],
            lambda: noop(aio.read_transcripts_csv(spark, gz_files)),
        ),
        "zip_ingest": (
            meta["n_turns_zip"],
            lambda: noop(aio.read_transcripts_zip(spark, f"{DATA_DIR}/zips")),
        ),
    }

    result: dict = {"cpus": cpus, "stages": {}, "rows_per_sec": {}, "reps": {}}
    for name, (rows, fn) in stages.items():
        t0 = time.monotonic()
        fn()
        first = time.monotonic() - t0
        if first <= REP_CUTOFF_S:
            t0 = time.monotonic()
            fn()
            best, reps = min(first, time.monotonic() - t0), 2
        else:
            best, reps = first, 1
        result["stages"][name] = round(best, 2)
        result["rows_per_sec"][name] = round(rows / best, 1)
        result["reps"][name] = reps
        print(json.dumps({"stage": name, "cpus": cpus, "sec": round(best, 2)}),
              file=sys.stderr, flush=True)

    # dedup gate: fresh ledger, then a fully-seen re-scan (the idempotent
    # re-run against a 100 TB landing zone) — both O(files) head reads
    all_files = gz_files + zip_files
    ledger = aio.IngestLedger(f"{DATA_DIR}/ledger_{cpus}.json")
    t0 = time.monotonic()
    new = ledger.filter_new(all_files)
    first_scan = time.monotonic() - t0
    ledger.record(new)
    t0 = time.monotonic()
    again = aio.IngestLedger(f"{DATA_DIR}/ledger_{cpus}.json").filter_new(all_files)
    rescan = time.monotonic() - t0
    result["checksum_filter"] = {
        "n_files": len(all_files),
        "first_scan_sec": round(first_scan, 3),
        "seen_rescan_sec": round(rescan, 3),
        "rescan_ms_per_file": round(rescan * 1000 / len(all_files), 3),
        "all_skipped": len(again) == 0 and len(new) == len(all_files),
    }
    print(json.dumps(result))


def main() -> None:
    if not os.path.exists(f"{DATA_DIR}/meta.json"):
        prep()
    with open(f"{DATA_DIR}/meta.json") as f:
        meta = json.load(f)

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

    summary = {
        "metric": (
            f"ingest decode rate: {meta['n_turns_gz']} turns from "
            f"{meta['gz_shards']} .csv.gz shards (JVM parse) + "
            f"{meta['n_turns_zip']} turns from {meta['zip_archives']} .zip "
            f"archives (binaryFile + in-executor unzip), "
            f"local[{min(LEVELS)}] vs local[{max(LEVELS)}], fresh JVM per "
            "level, best-of-2, warm page cache (= parse/decompress compute, "
            "the reference's decode-rate definition)"
        ),
        "inputs": meta,
        "localN": n_,
        "local4N": f_,
        "stage_efficiency": {
            s: round(n_["stages"][s] / (factor * f_["stages"][s]), 3)
            for s in n_["stages"]
        },
        "note": (
            "gzip is not splittable: shard count sets the parallelism "
            "ceiling (64 shards keep 32 cores fed; a cluster ingest sizes "
            "shards the same way). zip route parses with pandas inside "
            "executors — the Python-worker pipe is per-node on a real "
            "cluster. checksum_filter shows the dedup gate is O(files) "
            "ranged head reads, never O(bytes): re-scanning a fully-seen "
            "landing zone costs ~1 ms/file."
        ),
    }
    try:
        with open("BENCH_LARGE.json") as f:
            doc = json.load(f)
    except (OSError, ValueError):
        doc = {}
    doc["ingest_large"] = summary
    with open("BENCH_LARGE.json", "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({k: v for k, v in summary.items()
                      if k not in ("localN", "local4N")}))


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--worker":
        worker(int(sys.argv[2]))
    elif len(sys.argv) >= 2 and sys.argv[1] == "--prep":
        print(json.dumps(prep()))
    else:
        main()
