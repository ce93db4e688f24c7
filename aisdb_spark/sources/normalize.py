"""Session/schema normalization at the read boundary.

Under Spark 4 defaults (``spark.sql.parquet.inferTimestampNTZ.enabled=true``)
parquet timestamps come back as ``TIMESTAMP_NTZ``, on which ``unix_micros``
and friends raise ``DATATYPE_MISMATCH`` at analysis time. The engine's
timestamp arithmetic (gap segmentation, deltas, dwell, sessionization —
reference semantics ``aisdb/track_gen.py:167-263``, ``aisdb/gis.py:93-181``)
is defined over epoch microseconds, and the DuckDB oracle reads the same
parquet as UTC-naive values. So every loader funnels through
:func:`read_parquet`, which

1. pins the two runtime-settable confs (NTZ inference off, session tz UTC)
   **on whatever session is active** — the caller may be a vanilla
   ``SparkSession.builder.getOrCreate()`` (the driver harness is), not our
   tuned :func:`aisdb_spark.session.get_spark`; and
2. defensively rewrites any ``TIMESTAMP_NTZ`` column that still appears
   (cached relations, pre-set confs) into the equivalent ``TIMESTAMP_LTZ``
   instant, treating the stored wall-clock as UTC — value-preserving
   regardless of the session timezone because it goes through explicit
   epoch-microsecond arithmetic rather than a tz-dependent cast.

With session tz pinned UTC, LTZ timestamps bit-match DuckDB's UTC-naive
reads, which is what keeps every oracle hash-equal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampNTZType

_RUNTIME_CONF = {
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}


def normalize_session(spark: SparkSession) -> SparkSession:
    """Pin runtime confs so parquet timestamps read as LTZ/UTC.

    Both keys are runtime-settable (no session restart); idempotent.
    """
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked down in some exotic deployment: fall through
    return spark


def ensure_ltz(df: DataFrame) -> DataFrame:
    """Rewrite any TIMESTAMP_NTZ column to the same instant as TIMESTAMP_LTZ.

    ``ts.cast("timestamp")`` would interpret the wall-clock in the *session*
    timezone; instead go through epoch microseconds explicitly
    (``timestampdiff`` is NTZ-legal, ``timestamp_micros`` builds an LTZ
    instant), so the result is session-tz-independent and equals the raw
    parquet INT64 micros — exactly what DuckDB's ``epoch_us`` sees.
    """
    ntz_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)
    ]
    if not ntz_cols:
        return df
    epoch_ntz = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return df.withColumns(
        {
            c: F.timestamp_micros(
                F.timestamp_diff("MICROSECOND", epoch_ntz, F.col(c))
            )
            for c in ntz_cols
        }
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """The one parquet entry point: normalize session, read, guard schema."""
    normalize_session(spark)
    return ensure_ltz(spark.read.parquet(path))


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """The streaming twin of :func:`read_parquet`: a file stream over
    ``path`` with a fixed ``schema``. ``glob`` filters file names;
    ``recursive`` also lists subdirectories (waves landed one per dir)."""
    normalize_session(spark)
    reader = spark.readStream.schema(schema)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return ensure_ltz(reader.parquet(path))
