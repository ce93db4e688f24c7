"""Journaled partition-swap commit for tier upserts.

Closes the crash window rounds 1-4 documented between a tier's dynamic
partition overwrite finishing and the ``_epoch.json`` record landing
(``upsert.py`` module docstring: "closing that window needs a
transactional table format"). It doesn't, quite: the parquet path gets
the same effectively-once contract from a write-ahead journal, because
the epoch record itself is an atomic rename and can serve as the commit
point. The protocol, per micro-batch:

1. journal ``_txn.json`` ``{epoch, backed, cleared, files}`` (atomic
   rename; ``files`` is the per-partition pre-image file manifest);
2. rename every touched partition that exists into ``_txn_backup/``
   (metadata-only on local/HDFS; the ``_`` prefix hides both journal
   and backups from parquet scans and :func:`fsio.tier_nonempty`);
3. write the new partitions — every pre-image is renamed away, so the
   write lands in empty slots, and a touched partition with no output
   rows simply ceases to exist (emptied-partition cleanup is free,
   replacing the local-fs-only ``shutil.rmtree`` pass);
4. record the epoch in ``_epoch.json``  ← THE commit point;
5. rewrite the journal with ``state: committed`` (atomic), then delete
   the backups, then the journal — the flag means any later crash is
   arbitrated as "finish cleanup", never rollback, so a half-done
   cleanup can never strand a backup for the next swap's rename to
   collide with.

:func:`recover` (run at the top of every upsert) arbitrates any crash:
journal flagged committed, or its epoch already recorded → the commit
happened, finish step 5; otherwise it did not — delete write debris
and rename the backups home, restoring the exact pre-batch tier for
the checkpointed source's replay of the same epoch. Restoration is
file-granular against the journaled manifest: each pre-image file is
in the backup, at home, or both (an S3-style copy+delete rename can
crash mid-partition), so recovery converges from ANY interleaving and
re-running a crashed recovery re-arbitrates identically. With
``epoch_id=None`` (hand-driven callers outside a streaming checkpoint)
the committed flag itself is the commit point: a crash after the write
but before the flip rolls the batch back — at-most-once, documented.

Every streaming tier writer (``upsert.upsert_batch``,
``rollup_stream.upsert_rollup_partials_batch``,
``rollup_stream.upsert_sessions_batch``) commits through
:func:`merge_into_tier`, which owns the recover → epoch-skip → merge →
materialize → swap order; the writers supply only their rows and merge.
The cascade's 1h/1d tiers are no exception: ``upsert.refresh_coarser``
derives them from the materialized 1min rows inside the 1min merge's
``settle`` hook and commits each with :func:`recover` + :func:`swap_commit`
under the same epoch, before the 1min swap — so the 1min epoch record is
the one commit point of the whole cascade, and a replay re-swaps whole
coarse days idempotently.

Tier maintenance rewrites days in place through the same swap:
``maintenance.compact_tier`` commits each bin-packed day with
:func:`swap_commit` (``epoch_id=None``) after a :func:`recover`, so a
failed rewrite rolls back to the fragmented day instead of losing it,
and ``maintenance.enforce_retention`` runs :func:`recover` before it
lists partitions, so a day it drops cannot come back from the backups.
``checkpoint.write_tier`` stays on Spark's static overwrite: that
overwrite deletes the whole tier directory, its manifest included, so a
crashed build leaves no manifest and the rerun rebuilds the tier.

Scale: the journal lists touched dates only (∝ batch, never table),
the swap is rename-only, and recovery touches only journaled
partitions. Reference parity: AISdb's tables absorb replayed inserts
with PK dedup (aisdb/aisdb_sql/insert_dynamic_clusteredidx.sql:16) and
its ingest never replays a partial transaction; Spark's at-least-once
file source needs exactly this idempotent apply. The Iceberg writer
(``sources/iceberg.upsert_batch_iceberg``) remains the preferred
single-commit path where the runtime jar exists.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from aisdb_spark.streaming import fsio

JOURNAL = "_txn.json"
BACKUP = "_txn_backup"


def last_applied_epoch(spark: SparkSession, tier_dir: str) -> int:
    doc = fsio.read_side_json(spark, tier_dir, "_epoch.json")
    try:
        return int(doc["last_epoch"]) if doc else -1
    except (KeyError, TypeError, ValueError):
        return -1


def record_epoch(spark: SparkSession, tier_dir: str, epoch_id: int) -> None:
    """Atomically (tmp + rename) record the applied epoch beside the tier."""
    fsio.write_side_json_atomic(
        spark, tier_dir, "_epoch.json", {"last_epoch": epoch_id}
    )


def _restore_partition(spark: SparkSession, tier_dir: str, d: str,
                       manifest: list | None) -> None:
    """Put partition ``d`` back to its journaled pre-image (uncommitted
    crash). With a per-file ``manifest`` the restore is file-granular, so
    it survives a crash INSIDE the backup rename itself on stores where
    rename is copy+delete (S3A): each manifest file is in the backup, at
    home, or both (copied, delete pending) — backup wins (same bytes);
    anything at home that is NOT in the manifest is new-write debris."""
    cur = f"{tier_dir}/bucket_date={d}"
    bak = f"{tier_dir}/{BACKUP}/bucket_date={d}"
    if manifest is None:  # pre-manifest journal: directory-level arbitration
        if fsio.exists(spark, bak):
            fsio.delete_dir(spark, cur)  # partial-write debris
            fsio.rename(spark, bak, cur)
        # backup absent → its rename never ran: cur IS the pre-image
        return
    names = set(manifest)
    for n, _sz, is_dir in fsio.list_entries(spark, cur):
        if not is_dir and n not in names:
            fsio.delete_dir(spark, f"{cur}/{n}")  # write debris
    for n in manifest:
        if fsio.exists(spark, f"{bak}/{n}"):
            fsio.delete_dir(spark, f"{cur}/{n}")  # half-copied duplicate
            fsio.rename(spark, f"{bak}/{n}", f"{cur}/{n}")
        # else: file already home (never renamed away, or restored)


def recover(spark: SparkSession, tier_dir: str) -> bool:
    """Settle a crashed swap_commit, if any. Returns True when a rollback
    was performed (the journaled epoch had NOT been recorded — the batch
    must be replayed by the caller's source), False otherwise."""
    j = fsio.read_side_json(spark, tier_dir, JOURNAL)
    if not j:
        # no journal → the last swap fully arbitrated; a backup dir here
        # is settled garbage from a cleanup interrupted under the pre-r5
        # deletion order, and it would poison the next swap's rename
        fsio.delete_dir(spark, f"{tier_dir}/{BACKUP}")
        return False
    committed = j.get("state") == "committed" or (
        j.get("epoch") is not None
        and j["epoch"] <= last_applied_epoch(spark, tier_dir)
    )
    if not committed:
        backed = set(j.get("backed", []))
        files = j.get("files", {})
        for d in j.get("cleared", []):
            if d in backed:
                _restore_partition(spark, tier_dir, d, files.get(d))
            else:  # no pre-image existed: anything here is write debris
                fsio.delete_dir(spark, f"{tier_dir}/bucket_date={d}")
    fsio.delete_dir(spark, f"{tier_dir}/{BACKUP}")
    fsio.delete_side_json(spark, tier_dir, JOURNAL)
    return not committed


def swap_commit(
    spark: SparkSession,
    tier_dir: str,
    out: DataFrame,
    dates,
    epoch_id: int | None = None,
) -> None:
    """Steps 1-5 above. ``out`` must carry a ``bucket_date`` column whose
    values fall inside ``dates`` (every date the merge read or writes),
    and its plan must NOT read the tier lazily — callers that merged with
    existing tier rows localCheckpoint first (they already did, for
    dynamic-overwrite lineage), because step 2 renames those partitions
    away before the write.

    ``out`` must also arrive clustered by ``bucket_date``: the write takes
    the partitions as they lie, and each write task writes one file into
    every date directory it holds rows of. :func:`merge_into_tier` owns
    the clustering and the file-count rule."""
    dates = sorted({str(d) for d in dates})
    backed, files = [], {}
    for d in dates:
        entries = fsio.list_entries(spark, f"{tier_dir}/bucket_date={d}")
        if entries:
            backed.append(d)
            # per-file pre-image manifest: lets recover() arbitrate a crash
            # INSIDE a copy+delete rename (S3A) file-by-file instead of
            # trusting backup-directory existence as a complete pre-image
            files[d] = sorted(n for n, _sz, is_dir in entries if not is_dir)
    journal = {"epoch": epoch_id, "backed": backed, "cleared": dates,
               "files": files}
    fsio.write_side_json_atomic(spark, tier_dir, JOURNAL, journal)
    for d in backed:
        fsio.rename(
            spark,
            f"{tier_dir}/bucket_date={d}",
            f"{tier_dir}/{BACKUP}/bucket_date={d}",
        )
    (
        fsio.gated_write(out.write.mode("overwrite"))
        # write-scoped dynamic overwrite: only partitions present in `out`
        # are written; the session conf stays untouched (a session-level
        # set would silently change later static overwrites)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket_date")
        .parquet(tier_dir)
    )
    if epoch_id is not None:
        record_epoch(spark, tier_dir, epoch_id)
    # flip the journal to committed BEFORE deleting backups: from here any
    # crash is arbitrated as "finish cleanup", never rollback — without
    # this flag a crash between the two deletes below left an orphaned
    # backup that the NEXT swap's rename collided with, and for
    # epoch_id=None there was no other committed signal at all
    fsio.write_side_json_atomic(
        spark, tier_dir, JOURNAL, {**journal, "state": "committed"}
    )
    fsio.delete_dir(spark, f"{tier_dir}/{BACKUP}")
    fsio.delete_side_json(spark, tier_dir, JOURNAL)


# Compressed parquet bytes per stored tier row, to estimate the existing
# rows of the read days from the file sizes already listed. The 1min tier
# stores 9.6-21 B per row (sf0.1-sf0.01); a low guess errs toward more
# write tasks, never toward the straggler case below.
ROW_BYTES = 10


def files_per_date(spark: SparkSession, rows: int, n_dates: int, old_bytes: int) -> int:
    """The tier file-count rule: files per date for a day-partitioned write
    of about ``rows`` rows over ``n_dates`` dates, ``old_bytes`` of them
    already stored. Shared by :func:`merge_into_tier` and
    ``checkpoint.write_tier`` (which passes ``old_bytes=0``).

    Without clustering on (bucket_date, salt) every write task writes a
    sliver into every date directory — file count ∝ parallelism × dates
    (measured 1,920 files per micro-batch at 32 partitions × 30 dates,
    4-16 s to write and as long again to read back). With it, file count
    is at most dates × k. k is SIZE-derived (guide §6), in three terms,
    floor 1:

    - write parallelism: ~250k rows per write task, capped at 2×cores — a
      10k-row micro-batch writes ONE file per date (commit cost ∝ file
      count; a parallelism-only 2×cores rule wrote 3× the files), while a
      20M-row merge keeps ~2×cores write tasks (a dates-only task count
      regressed that case 87→131 s at the 20M drain: ~30 tasks from 30
      hash keys collide into stragglers, guide §2.5);
    - file sizing: ~1M rows, and ~512 MB of pre-existing partition bytes,
      per file per date."""
    desired_tasks = min(-(-rows // 250_000), 2 * spark.sparkContext.defaultParallelism)
    return max(1, -(-desired_tasks // n_dates), -(-rows // (1_000_000 * n_dates)),
               -(-old_bytes // (512 * 1024 * 1024 * n_dates)))


def merge_into_tier(
    spark: SparkSession,
    tier_dir: str,
    new: DataFrame,
    merge,
    epoch_id: int | None = None,
    days: Column | None = None,
    window=None,
) -> list:
    """Merge one micro-batch into the day-partitioned tier at ``tier_dir``
    under the journaled swap — the one skeleton every streaming tier
    writer shares. Returns the touched days ([] when the batch is empty
    or its epoch was already applied).

    ``new`` holds the batch's rows in tier layout, ``bucket_date``
    included. ``merge(parts, cluster)`` re-aggregates ``parts`` (the tier
    rows of the days read ∪ ``new``) and returns tier rows with
    ``bucket_date`` and ``salt``, clustered by ``cluster(df, *key)``: it
    hashes ``key`` into the ``salt`` column (kept when no key is given)
    and repartitions on ``(bucket_date, salt)``. A merge that groups by
    a superset of ``key`` plus ``bucket_date`` and ``salt`` clusters its
    input and needs no second exchange; one that moves rows to other days
    clusters its output instead. ``days`` is the per-row array of the
    days a row touches (default ``[bucket_date]``). ``window(days)``
    optionally returns ``(read_days, settle)``: the days to read and swap
    (a superset of ``days``), and ``settle(out, stats, cluster)``, run on
    the materialized output before the swap; ``stats`` holds its observed
    ``rows`` and ``span`` (the most days one row touches, minus one). It
    may record side state the next batch's window depends on, or commit
    tiers derived from ``out`` (the cascade's 1h/1d): anything it commits
    lands before this tier's epoch record, so a crash rolls this tier back
    and the replay runs ``settle`` again on the same ``out`` — its commits
    must be idempotent per epoch.

    The ordering rules live here and nowhere else:

    1. :func:`recover` settles any crashed prior swap before anything
       reads the tier or its epoch;
    2. an epoch at or below the recorded one is skipped — the
       idempotent-apply half of the effectively-once contract;
    3. ``new`` is materialized once, and its row count and touched days
       are observed on that job; with the byte sizes of the read days'
       partitions they fix the file-count rule before the merge runs;
    4. the merge reads only the existing partitions of the window, with
       the known tier schema, and is materialized BEFORE
       :func:`swap_commit`, whose step 2 renames exactly those partitions
       away (and overwrite lineage must not read its own target). Its
       rows leave the merge clustered, so the swap writes them as they
       lie. Both materializations are released when the batch ends."""
    recover(spark, tier_dir)
    if epoch_id is not None and epoch_id <= last_applied_epoch(spark, tier_dir):
        return []
    days = F.array("bucket_date") if days is None else days
    seen, merged = Observation(), Observation()
    held = [new.observe(
        seen, F.count(F.lit(1)).alias("rows"),
        F.array_distinct(F.flatten(F.collect_set(days))).alias("days"),
    ).localCheckpoint(eager=True)]
    try:
        batch = seen.get
        dates = batch["days"]
        if not dates:
            return []
        read_dates, settle = window(dates) if window else (dates, None)
        listed = {d: fsio.list_entries(spark, f"{tier_dir}/bucket_date={d}") for d in read_dates}
        parts = held[0]
        if any(listed.values()):
            parts = spark.read.schema(parts.schema).option("basePath", tier_dir).parquet(
                *[f"{tier_dir}/bucket_date={d}" for d, entries in listed.items() if entries]
            ).unionByName(parts)
        n_dates = len(read_dates)
        old_bytes = sum(sz for entries in listed.values() for _n, sz, _d in entries)
        k = files_per_date(spark, batch["rows"] + old_bytes // ROW_BYTES, n_dates, old_bytes)

        # the salt hashes the merge key, so rows that merge share it and a
        # task retry reproduces the same placement
        def cluster(df: DataFrame, *key: str) -> DataFrame:
            if key:
                df = df.withColumn("salt", F.pmod(F.xxhash64(*key), F.lit(k)))
            return df.repartition(n_dates * k, "bucket_date", "salt")

        held.append(merge(parts, cluster).observe(
            merged, F.count(F.lit(1)).alias("rows"),
            (F.max(F.size(days)) - 1).alias("span"),
        ).localCheckpoint(eager=True))
        if settle:
            settle(held[1], merged.get, cluster)
        swap_commit(spark, tier_dir, held[1].drop("salt"), read_dates, epoch_id=epoch_id)
        return dates
    finally:
        # a checkpoint's blocks otherwise stay until the JVM collects its RDD
        for df in held:
            df._jdf.queryExecution().logical().rdd().unpersist(False)  # noqa: SLF001
