"""Live TCP line receiver → streaming rollup (SURVEY §2.8 live path).

The reference ships a fixed-buffer UDP/TCP receiver that parses raw NMEA
lines and flushes decoded batches to the DB (``receiver/src/receiver.rs``,
``aisdb/receiver.py:6-57``, flush buffers ``src/lib.rs:563-568``). The
Spark-first analog: ``readStream.format("socket")`` over a JSON-lines wire
protocol, parsed JVM-side with ``from_json`` (no Python in the hot path),
feeding the SAME windowed rollup as the file stream and the batch tiers
(``rollup_stream.rollup_measures``) — one aggregation definition, three
ingestion paths.

Wire protocol (one JSON object per line):

    {"event_id": 1, "ts_us": 1700000000000000, "user_id": 7,
     "event_type": "click", "value": 1.25, "props": "{...}"}

Timestamps travel as epoch MICROSECONDS (``ts_us``), the same integer-µs
currency used everywhere else in the engine — ``timestamp_micros`` maps
them to the UTC instant with no session-timezone reinterpretation, so the
live path is deterministic under a vanilla driver session exactly like the
parquet loaders (sources/normalize.py).

Delivery semantics match the reference receiver: the socket source is
at-most-once / no-replay (a raw TCP feed has no offsets); duplicates and
late data are absorbed downstream by the watermark + the batch tiers'
upsert-idempotent materialization (checkpoint.py), mirroring the
reference's insert-time PK dedup. For replayable ingest use the landing-dir
file stream drain (``rollup_stream.drained_rollup_1min``).

Scale note: one socket connection is one ingest point; at cluster scale
this operator is the protocol/aggregation layer behind a real partitioned
bus (Kafka source swaps in with the same ``parse_event_lines`` +
``rollup_measures`` composition — format("kafka") instead of
format("socket"), value cast to string).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aisdb_spark.streaming.rollup_stream import rollup_measures

# schema of one wire line (ts_us: epoch microseconds, see module docstring)
LINE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def event_to_line(row) -> str:
    """Driver-side helper: one events row → one wire line (tests/feeders).
    ``ts`` may be datetime (already µs-precision) or epoch micros int."""
    import json as _json

    ts = row["ts"]
    if not isinstance(ts, int):
        import calendar

        ts = (
            calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond
        )
    return _json.dumps(
        {
            "event_id": row["event_id"],
            "ts_us": ts,
            "user_id": row["user_id"],
            "event_type": row["event_type"],
            "value": row["value"],
            "props": row["props"],
        },
        separators=(",", ":"),
    )


def parse_event_lines(lines: DataFrame, col: str = "value") -> DataFrame:
    """JSON-lines → typed events frame. Malformed lines become NULL structs
    and are dropped (the reference receiver likewise skips undecodable
    NMEA lines rather than failing the feed)."""
    parsed = lines.select(
        F.from_json(F.col(col), LINE_SCHEMA).alias("e")
    ).filter(F.col("e").isNotNull() & F.col("e.event_id").isNotNull())
    return parsed.select(
        F.col("e.event_id").alias("event_id"),
        F.timestamp_micros(F.col("e.ts_us")).alias("ts"),
        F.col("e.user_id").alias("user_id"),
        F.col("e.event_type").alias("event_type"),
        F.col("e.value").alias("value"),
        F.col("e.props").alias("props"),
    )


def stream_rollup_socket(
    spark: SparkSession,
    host: str,
    port: int,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Live TCP feed → per-user 1-minute rollup, identical measures to the
    batch tiers (shared ``rollup_measures``)."""
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
        .load()
    )
    return rollup_measures(parse_event_lines(raw).withWatermark("ts", watermark))


def _udp_send_fn(host: str, port: int, ttl: int):
    """mapInPandas body: one UDP socket per task, one datagram per line.
    Defined at module level so only (host, port, ttl) ride the closure —
    no SparkSession/DataFrame capture in the serialized task."""

    def send(batches):
        import ipaddress
        import socket as _socket

        import pandas as pd

        # resolve once per task; hostnames and IPv6 groups count too —
        # a dotted-quad prefix test would silently skip the TTL for
        # "mcast.example.org" and the datagrams would die at hop 1
        family, addr = _socket.AF_INET, (host, port)
        for fam, _t, _p, _c, sockaddr in _socket.getaddrinfo(
            host, port, proto=_socket.IPPROTO_UDP
        ):
            if fam in (_socket.AF_INET, _socket.AF_INET6):
                family, addr = fam, sockaddr
                break
        sock = _socket.socket(family, _socket.SOCK_DGRAM)
        if ipaddress.ip_address(addr[0]).is_multicast:
            if family == _socket.AF_INET:
                sock.setsockopt(
                    _socket.IPPROTO_IP, _socket.IP_MULTICAST_TTL, ttl
                )
            else:
                sock.setsockopt(
                    _socket.IPPROTO_IPV6, _socket.IPV6_MULTICAST_HOPS, ttl
                )
        n = 0
        try:
            for pdf in batches:
                for line in pdf["line"]:
                    if line is None:  # NULL wire line: skip, don't kill the task
                        continue
                    sock.sendto(line.encode("utf-8"), addr)
                    n += 1
        finally:
            sock.close()
        yield pd.DataFrame({"sent": [n]})

    return send


def rebroadcast_udp(lines: DataFrame, host: str, port: int, ttl: int = 1) -> int:
    """Fan one batch of raw wire lines out over UDP — the reference
    receiver's downstream rebroadcast (``receiver/src/receiver.rs``
    multicast fan-out; ``aisdb/receiver.py:6-57``), minus the websocket
    visualization leg SURVEY scopes out.

    Spark-first shape: every partition sends from its own executor task
    over its own socket (Arrow-batched ``mapInPandas``; the datagrams
    never funnel through the driver), so fan-out bandwidth scales with
    the cluster exactly like the reference's per-receiver rebroadcast
    scales with receiver processes. ``host`` may be a multicast group
    (224.0.0.0/4 — TTL applied) or a unicast address. Delivery is
    at-most-once: UDP, same contract as the reference. Returns the
    number of datagrams handed to the kernel."""
    col = lines.columns[0]
    sent = (
        lines.select(F.col(col).cast("string").alias("line"))
        .mapInPandas(_udp_send_fn(host, port, ttl), "sent long")
        .agg(F.sum("sent"))
        .collect()[0][0]
    )
    return int(sent or 0)


def stream_rebroadcast_socket(
    spark: SparkSession,
    in_host: str,
    in_port: int,
    out_host: str,
    out_port: int,
    ttl: int = 1,
):
    """TCP feed in → UDP fan-out per micro-batch (foreachBatch side-sink).
    The returned query's ``lastProgress`` carries per-batch row counts;
    start it alongside the rollup query — the socket source supports one
    reader per query, so production pairs this with a replayable bus
    (Kafka) rather than the same raw socket."""
    raw = (
        spark.readStream.format("socket")
        .option("host", in_host)
        .option("port", str(in_port))
        .load()
    )
    return (
        raw.writeStream.foreachBatch(
            lambda batch, _eid: rebroadcast_udp(batch, out_host, out_port, ttl)
        )
        .trigger(processingTime="500 milliseconds")
        .start()
    )
