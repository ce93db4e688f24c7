"""Filesystem-agnostic tier side-file IO and partition cleanup.

Tier directories can live on any Hadoop-visible filesystem — a plain
local path, a ``file://`` URI, HDFS, S3A. This is the only module that
branches on the path kind; every other module calls these helpers with
``session_for(path)`` and never asks which kind it holds (the
``tests/test_path_kind_guard.py`` check holds the rest of the package
to that). Scheme-less paths take the ``os``/``open`` branch (no JVM
roundtrip, and ``spark`` is never touched, so it may be None); any path
carrying a URI scheme goes through the Hadoop ``FileSystem`` API via the
active JVM gateway — the same client Spark's own writers use — so the
tier writers are not silently local-fs-bound (``shutil.rmtree`` and
``open()`` are silent no-ops / failures on non-local URIs, leaving stale
partitions that dynamic overwrite cannot delete). The ``file://``
pytests drive the Hadoop branch end-to-end; remote stores use the
identical API.

Atomicity note: the small-file write is tmp + rename. ``os.replace`` is
atomic locally; Hadoop ``rename`` is atomic on HDFS but copy+delete on
S3 — acceptable for these side files because every reader tolerates a
missing/corrupt file (epoch guard defaults open, and the session horizon
is recomputed from the tier itself on loss — see
``rollup_stream._session_horizon_days``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession


def has_scheme(path: str) -> bool:
    """True for URI-style paths — any ``scheme:`` prefix (file://, hdfs://,
    s3a://, and the legal single-slash forms hdfs:/x, file:/x). The old
    check only matched '://' or a 'file:' prefix, so 'hdfs:/tier' was
    silently routed to the os/shutil branch — the round-4 local-no-op
    failure class this module exists to prevent (r5 ADVICE item 2).
    Schemes are required to be ≥2 chars so a Windows drive letter would
    not match; real URI schemes in scope (file, hdfs, s3a, …) all are."""
    import re

    return re.match(r"^[A-Za-z][A-Za-z0-9+.-]+:", path) is not None


def _hfs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for any URI the session can resolve."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    return fs, jpath


def session_for(path: str) -> SparkSession | None:
    """The active SparkSession when ``path`` needs the Hadoop FileSystem
    client (URI-schemed), else None (plain paths never touch the JVM).
    Raises when a URI path has no active session — the JVM gateway is the
    only route to hdfs://s3a: and failing loudly beats a silent local
    no-op (the round-4 rmtree lesson)."""
    if not has_scheme(path):
        return None
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            f"URI path {path!r} needs an active SparkSession for the "
            "Hadoop FileSystem client"
        )
    return spark


def _remove_scratch(path: str, owner: int) -> None:
    import shutil

    if os.getpid() == owner:  # a forked child must not delete its parent's
        shutil.rmtree(path, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """Fresh scratch directory for transient tier state (streaming-drain
    tiers, upsert landings). Honors ``SPARK_GRAFT_SCRATCH``; defaults to
    tmpfs (``/dev/shm``) when writable — the same placement (and the
    same justification) as ``spark.local.dir`` in session.py: this
    sandbox's /tmp is a slow virtual disk (a 1-micro-batch drain measured
    2.16 s on /tmp vs 1.64 s on tmpfs), while on a real cluster this is
    the local-SSD scratch volume. Falls back to the platform tempdir.

    The directory is removed when the process exits, not before: callers
    return lazy DataFrames that still read it. tmpfs is RAM, so a
    directory left behind holds memory until reboot."""
    import atexit
    import tempfile

    base = os.environ.get("SPARK_GRAFT_SCRATCH")
    if base is None and os.path.isdir("/dev/shm") and os.access(
        "/dev/shm", os.W_OK
    ):
        base = "/dev/shm/aisdb-scratch"
    if base:
        os.makedirs(base, exist_ok=True)
    path = tempfile.mkdtemp(prefix=prefix, dir=base or None)
    atexit.register(_remove_scratch, path, os.getpid())
    return path


def join(base: str, *names: str) -> str:
    """Scheme-preserving path join (os.path.join would mangle nothing
    here on posix, but be explicit about the URI contract)."""
    out = base.rstrip("/")
    for n in names:
        out = f"{out}/{n.strip('/')}"
    return out


def gated_write(writer):
    """``writer`` (a ``DataFrameWriter``) set to FileOutputCommitter v2:
    task output renames straight into the destination instead of a second,
    serial job-commit rename pass on the driver (measured: warm cascade
    2.77 → 2.34 s; the win is per-file commit cost, so it grows with file
    count at scale). v2's weaker job-commit atomicity (visible partials on
    mid-job failure) is safe ONLY for writes whose visibility a higher
    protocol decides, so there are two callers: ``txn.swap_commit``,
    whose journal gates every streaming tier commit and every
    ``maintenance.compact_tier`` day rewrite, and ``checkpoint.write_tier``,
    whose manifest gates the tier build. An ungated write (CSV staging)
    keeps the session's v1 default.
    (Object-store deployments use their own committer.)"""
    return writer.option("mapreduce.fileoutputcommitter.algorithm.version", "2")


def local_tree_stat(path: str) -> tuple | None:
    """(relative path, size, mtime_ns, inode) of every file under a local
    directory ``path`` (plain or ``file:``), sorted; None when ``path`` is
    no local directory. The query plan cache's input fingerprint."""
    root = path.removeprefix("file:")
    if not os.path.isdir(root):
        return None
    out = []
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out.append((os.path.relpath(p, root), st.st_size, st.st_mtime_ns, st.st_ino))
    return tuple(sorted(out))


def read_side_json(spark: SparkSession, tier_dir: str, name: str):
    """Parse ``{tier_dir}/{name}`` as JSON; None if missing/unreadable."""
    if not has_scheme(tier_dir):
        try:
            with open(os.path.join(tier_dir, name)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None
    from py4j.protocol import Py4JJavaError

    def _is_missing(err: Py4JJavaError) -> bool:
        """Only a genuinely-missing file maps to None. Any other Java
        failure (throttling, network, auth) must PROPAGATE: txn.recover
        treats None as 'no journal' and would delete the only pre-image
        of an uncommitted swap, and last_applied_epoch would return -1
        and re-apply a committed batch — a transient S3/HDFS fault must
        not become silent data loss (r5 ADVICE item 1)."""
        j = err.java_exception
        while j is not None:
            name_ = j.getClass().getName()
            if name_ in (
                "java.io.FileNotFoundException",
                "org.apache.hadoop.fs.PathNotFoundException",
            ):
                return True
            j = j.getCause()
        return False

    try:
        fs, jp = _hfs(spark, f"{tier_dir}/{name}")
        if not fs.exists(jp):
            # Hadoop rename refuses existing targets, so the atomic write
            # is delete→rename — a crash between the two leaves the final
            # file missing while the just-completed tmp still holds the
            # full payload (a partial tmp can only coexist WITH a final:
            # the final is only deleted after the tmp is closed). Reading
            # the tmp here closes that window; load-bearing for
            # _epoch.json, where "missing → epoch -1" would re-apply a
            # committed batch.
            jp = spark._jvm.org.apache.hadoop.fs.Path(  # noqa: SLF001
                f"{tier_dir}/{name}.tmp"
            )
            if not fs.exists(jp):
                return None
        ins = fs.open(jp)
        try:  # commons-io ships with Spark; py4j returns byte[] as bytes
            data = bytes(
                spark._jvm.org.apache.commons.io.IOUtils.toByteArray(ins)  # noqa: SLF001
            )
        finally:
            ins.close()
        return json.loads(data)
    except ValueError:
        return None  # corrupt JSON — every reader tolerates this
    except Py4JJavaError as err:
        if _is_missing(err):
            return None
        raise


def write_side_json_atomic(
    spark: SparkSession, tier_dir: str, name: str, payload: dict
) -> None:
    """tmp + rename write of a small JSON side file beside the tier."""
    data = json.dumps(payload)
    if not has_scheme(tier_dir):
        os.makedirs(tier_dir, exist_ok=True)
        tmp = os.path.join(tier_dir, name + ".tmp")
        with open(tmp, "w") as f:
            f.write(data)
        os.replace(tmp, os.path.join(tier_dir, name))
        return
    fs, jtmp = _hfs(spark, f"{tier_dir}/{name}.tmp")
    out = fs.create(jtmp, True)  # create() makes parent dirs
    try:
        out.write(bytearray(data.encode("utf-8")))
    finally:
        out.close()
    jfinal = spark._jvm.org.apache.hadoop.fs.Path(  # noqa: SLF001
        f"{tier_dir}/{name}"
    )
    fs.delete(jfinal, False)  # Hadoop rename refuses existing targets
    fs.rename(jtmp, jfinal)


def delete_side_json(spark: SparkSession, tier_dir: str, name: str) -> None:
    """Remove a side file AND its ``.tmp`` twin. Required wherever a side
    file is deliberately deleted (the txn journal): read_side_json falls
    back to the tmp when the final is missing, so deleting only the final
    could resurrect a stale tmp as a phantom payload."""
    delete_dir(spark, f"{tier_dir}/{name}.tmp")
    delete_dir(spark, f"{tier_dir}/{name}")


def delete_dir(spark: SparkSession, path: str) -> None:
    """Recursive delete of a directory OR file, missing-ok — Hadoop
    FileSystem.delete everywhere a scheme is present (rmtree is a silent
    no-op on hdfs://... strings)."""
    if not has_scheme(path):
        import contextlib
        import shutil

        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            with contextlib.suppress(OSError):
                os.remove(path)
        return
    fs, jp = _hfs(spark, path)
    fs.delete(jp, True)


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Move a file/directory; False if the source does not exist. The
    journaled partition-swap commit uses this for backup/restore: rename
    is metadata-only on local/HDFS and the journal makes the copy+delete
    S3 fallback recoverable per-partition."""
    if not has_scheme(src) and not has_scheme(dst):
        if not os.path.exists(src):
            return False
        os.makedirs(os.path.dirname(dst.rstrip("/")), exist_ok=True)
        os.rename(src, dst)
        return True
    fs, jsrc = _hfs(spark, src)
    if not fs.exists(jsrc):
        return False
    jdst = spark._jvm.org.apache.hadoop.fs.Path(dst)  # noqa: SLF001
    fs.mkdirs(jdst.getParent())
    return bool(fs.rename(jsrc, jdst))


def exists(spark: SparkSession, path: str) -> bool:
    if not has_scheme(path):
        return os.path.exists(path)
    fs, jp = _hfs(spark, path)
    return bool(fs.exists(jp))


def list_entries(spark: SparkSession, path: str) -> list:
    """(name, size, is_dir) per directory entry; [] when missing. Used by
    maintenance (retention listing, compaction stats) on URI tiers."""
    if not has_scheme(path):
        out = []
        if os.path.isdir(path):
            for n in os.listdir(path):
                p = os.path.join(path, n)
                isd = os.path.isdir(p)
                out.append((n, 0 if isd else os.path.getsize(p), isd))
        return out
    fs, jp = _hfs(spark, path)
    if not fs.exists(jp):
        return []
    return [
        (
            st.getPath().getName(),
            0 if st.isDirectory() else int(st.getLen()),
            bool(st.isDirectory()),
        )
        for st in fs.listStatus(jp)
    ]


def read_head(spark: SparkSession, path: str, n: int) -> bytes:
    """First ``n`` bytes of a file — the ingest-dedup checksum window.
    URI paths stream exactly one ranged read through the FS client."""
    if not has_scheme(path):
        with open(path, "rb") as f:
            return f.read(n)
    fs, jp = _hfs(spark, path)
    ins = fs.open(jp)
    try:
        # py4j passes bytearray to byte[] BY VALUE — a Java-side read(buf)
        # fills a copy the Python side never sees. Bound the stream and
        # let commons-io materialize the bytes on the JVM instead.
        bounded = spark._jvm.org.apache.commons.io.input.BoundedInputStream(  # noqa: SLF001
            ins, n
        )
        return bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(bounded)  # noqa: SLF001
        )
    finally:
        ins.close()


def walk_files(spark: SparkSession, path: str) -> list:
    """Recursive (path, size) over every file under ``path``; [] when
    missing. URI paths use FileSystem.listFiles(recursive) — one RPC
    stream, no per-directory roundtrips (S3 listing is O(prefix))."""
    if not has_scheme(path):
        return [
            (os.path.join(r, fn), os.path.getsize(os.path.join(r, fn)))
            for r, _dirs, fns in os.walk(path)
            for fn in fns
        ]
    fs, jp = _hfs(spark, path)
    if not fs.exists(jp):
        return []
    out = []
    it = fs.listFiles(jp, True)
    while it.hasNext():
        st = it.next()
        out.append((st.getPath().toString(), int(st.getLen())))
    return out


def tier_nonempty(spark: SparkSession, tier_dir: str) -> bool:
    """True when the tier directory holds anything besides ``_``-prefixed
    side files (the parquet convention for hidden/metadata entries)."""
    if not has_scheme(tier_dir):
        return os.path.isdir(tier_dir) and any(
            not f.startswith("_") for f in os.listdir(tier_dir)
        )
    fs, jp = _hfs(spark, tier_dir)
    if not fs.exists(jp):
        return False
    for st in fs.listStatus(jp):
        if not st.getPath().getName().startswith("_"):
            return True
    return False
