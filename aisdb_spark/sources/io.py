"""File sources/sinks + ingest ledger.

Re-expresses the reference's ingest periphery:

- CSV decoders with fixed schemas (``aisdb_lib/src/csvreader.rs:110-628``)
  → ``spark.read.csv(schema=...)`` (never inferSchema in the hot path).
- gzip transparency (``aisdb/database/decoder.py:119-153``) → Spark reads
  ``.csv.gz``/``.json.gz`` natively; no unpack stage needed.
- Track CSV sink with fixed column order + rounding rules
  (``aisdb/proc_util.py:195-333`` ``tracks_csv``/``write_csv``) →
  deterministic ordered CSV export.
- File-checksum ingest dedup (``aisdb/database/decoder.py:21-116``:
  md5 of the first 1000 bytes ↦ ``hashmap`` table, skip seen files) →
  JSON ledger keyed the same way; the batch-idempotence companion to the
  tier manifests in ``checkpoint.py``.

The checksum read and the ledger IO go through ``streaming.fsio`` with
``fsio.session_for(path)``, so a plain path and a URI (file://, hdfs://,
s3a://) take the same code path, and the ledger is written tmp + rename.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aisdb_spark.schema import TRANSCRIPTS_SCHEMA
from aisdb_spark.streaming import fsio

# fixed export order + rounding, the tracks_csv discipline
CSV_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


# RFC-4180 dialect (quote-doubling, not backslash-escape): the one CSV
# variant Spark, pandas, and DuckDB all parse identically — props payloads
# are JSON full of double quotes, so the dialect choice is load-bearing.
_CSV_OPTS = {
    "header": "true",
    "timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "escape": '"',
}


def read_transcripts_csv(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Schema-locked CSV (plain or .gz) → transcripts DataFrame."""
    from aisdb_spark.sources.normalize import normalize_session

    normalize_session(spark)  # wall-clock text must parse as UTC instants
    return spark.read.schema(TRANSCRIPTS_SCHEMA).options(**_CSV_OPTS).csv(path)


def write_transcripts_csv(df: DataFrame, path: str, compress: bool = False) -> None:
    """Deterministic CSV export: fixed column order, sorted rows
    (the sanitized-CSV sink of aisdb/proc_util.py:166-181)."""
    w = (
        df.select(*CSV_COLUMNS)
        .orderBy("conv_id", "turn_idx")
        .coalesce(1)
        .write.mode("overwrite")
        .options(**_CSV_OPTS)
    )
    if compress:
        w = w.option("compression", "gzip")
    w.csv(path)


def read_transcripts_zip(spark: SparkSession, path: str) -> DataFrame:
    """``.zip`` archive ingest (aisdb/database/decoder.py:119-153: unzip to
    temp then decode members). Spark-first: ``binaryFile`` scan → in-executor
    ``zipfile`` over the blob → pandas RFC-4180 parse per member — the
    archive never touches the driver or a shared temp dir, so N archives
    decode on N executors. Members are processed in sorted-name order for
    determinism; non-.csv members are skipped like the reference's suffix
    filter.

    ``path`` is an archive, a directory of archives, or a file-name glob
    in one directory (``.../arch*.zip``). A glob is passed as
    ``pathGlobFilter`` over its directory: loaded as a path, Spark's
    metadata-log probe would take it for a literal directory and log a
    ``FileNotFoundException`` trace on every read."""
    import io as _io
    import zipfile

    import pandas as pd

    from aisdb_spark.sources.normalize import normalize_session

    normalize_session(spark)  # naive parsed datetimes must mean UTC
    reader = spark.read.format("binaryFile")
    parent, name = os.path.split(path)
    if any(c in name for c in "*?[{"):
        reader, path = reader.option("pathGlobFilter", name), parent
    bin_df = reader.load(path)

    def _unpack(it):
        cols = list(CSV_COLUMNS)
        for pdf in it:
            for blob in pdf["content"]:
                with zipfile.ZipFile(_io.BytesIO(blob)) as zf:
                    for name in sorted(zf.namelist()):
                        if not name.endswith(".csv"):
                            continue
                        m = pd.read_csv(
                            zf.open(name),
                            dtype={
                                "conv_id": "string",
                                "turn_idx": "int32",
                                "role": "string",
                                "text": "string",
                                "tool": "string",
                            },
                        )
                        m["ts"] = pd.to_datetime(
                            m["ts"], format="%Y-%m-%d %H:%M:%S.%f"
                        )
                        yield m[cols]

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in TRANSCRIPTS_SCHEMA.fields
    )
    return bin_df.select("content").mapInPandas(_unpack, schema)


def file_checksum(path: str, head_bytes: int = 1000) -> str:
    """md5 of the first ``head_bytes`` — AISdb's exact ingest-dedup key
    (aisdb/database/decoder.py:56-63). Files on URI-addressed stores
    (file://, hdfs://, s3a://) are read through the Hadoop FS client —
    one ranged head read, never a full download."""
    return hashlib.md5(
        fsio.read_head(fsio.session_for(path), path, head_bytes)
    ).hexdigest()


class IngestLedger:
    """Skip-already-ingested-files ledger (the ``hashmap`` table analog).

    The ledger JSON may live on shared storage (URI path) so ingest jobs
    on any node consult one dedup surface — the write is tmp+rename
    through ``streaming.fsio``, same discipline as the tier side files.

    Concurrency contract (same as the reference's single-writer sqlite
    ``hashmap`` table): one ingest coordinator records at a time.
    ``record`` re-reads the shared ledger and merges before writing, so
    sequential coordinators never lose each other's entries; two
    coordinators racing inside that re-read window can still drop the
    other's update — the worst case is a file re-ingested on a later
    run, which the downstream tiers absorb (dedup + upsert-idempotent
    materialization, the reference's insert-time PK dedup model). The
    ledger is an optimization gate, never a correctness gate."""

    def __init__(self, ledger_path: str):
        self.path = ledger_path
        self._dir = os.path.dirname(ledger_path) or "."
        self._name = os.path.basename(ledger_path)
        self._checksums: dict[str, str] = {}  # path → md5-head memo
        self.seen: dict[str, str] = self._load()

    def _load(self) -> dict:
        return fsio.read_side_json(
            fsio.session_for(self.path), self._dir, self._name
        ) or {}

    def _checksum(self, path: str) -> str:
        # memoized: filter_new and record hash the same heads, and on URI
        # paths each checksum is a remote open + ranged read
        if path not in self._checksums:
            self._checksums[path] = file_checksum(path)
        return self._checksums[path]

    def filter_new(self, paths: list[str]) -> list[str]:
        return [p for p in paths if self.seen.get(self._checksum(p)) is None]

    def record(self, paths: list[str]) -> None:
        merged = self._load()  # merge-on-write: keep other coordinators'
        merged.update(self.seen)  # entries recorded since our load
        for p in paths:
            merged[self._checksum(p)] = os.path.basename(p)
        self.seen = merged
        fsio.write_side_json_atomic(
            fsio.session_for(self.path), self._dir, self._name, merged
        )


def ingest_files(
    spark: SparkSession, paths: list[str], ledger: IngestLedger
) -> tuple[DataFrame, "Callable[[], None]"] | None:
    """Checksum-gated CSV ingest: reads only unseen files.

    Returns ``(df, commit)`` — the caller runs its action (write/count) on
    ``df`` FIRST and calls ``commit()`` only after it succeeds, matching the
    reference's process-then-record ordering (aisdb/database/decoder.py:
    21-116). Recording before the action would permanently skip the files
    on a failed-then-retried job (silent data loss — round-1 advice item).
    Returns None when everything was already ingested (idempotent re-run).
    """
    new = ledger.filter_new(paths)
    if not new:
        return None
    df = read_transcripts_csv(spark, new)
    return df, lambda: ledger.record(new)
