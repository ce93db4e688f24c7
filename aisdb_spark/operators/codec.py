"""Gorilla XOR + delta-of-delta codec over per-conversation series.

The physical-layout component the reference delegates to TimescaleDB:
``compress_segmentby = 'mmsi', compress_orderby = 'time ASC'``
(``aisdb/aisdb_sql/timescale_createtable_dynamic.sql:24-29``) — one
compressed blob per entity, ordered by time. Here the codec itself is
implemented (Facebook Gorilla, Pelkonen et al., VLDB 2015):

- timestamps: delta-of-delta with variable-width classes
  ``0`` (dod=0) | ``10``+16b | ``110``+32b | ``1110``+64b (zigzag),
  widened from the paper's second-resolution buckets to fit exact
  microsecond timestamps;
- values: IEEE-754 bits XOR previous; ``0`` (identical) |
  ``10`` (meaningful bits fit previous leading/length window) |
  ``11`` + 5b leading + 6b length + meaningful bits.

Encode side is numpy-vectorized (deltas, XORs, leading/trailing zero counts,
bit matrix assembly via ``np.packbits``); the only per-element work is the
sequential decode state machine — inherent to the format, bounded per
conversation. In Spark the codec runs inside ``applyInPandas`` groups
(Arrow-batched); a production deployment would swap the inner kernel for a
native library with the same wire format.

Scale: output is one row per conversation (segment) — the compressed
retention layer. Writing these blobs bucketed by conv_id gives the
TimescaleDB layout: hash-partition by entity, time-ordered within,
compressed per entity.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# bit packing helpers (vectorized)
# ---------------------------------------------------------------------------


def _pack(vals: np.ndarray, nbits: np.ndarray) -> bytes:
    """Pack (value, width) pairs MSB-first into bytes, vectorized.

    Builds an (n, 64) bit matrix, keeps the low ``nbits`` of each row
    (MSB-first order within the field), flattens, packs.
    """
    n = len(vals)
    if n == 0:
        return b""
    # big-endian byte view + unpackbits = the (n, 64) MSB-first bit matrix
    # (~8x faster than a uint64 broadcast shift, which numpy runs scalar)
    bits = np.unpackbits(vals.astype(">u8").view(np.uint8)).reshape(-1, 64)
    # keep last nbits of each row
    keep = (np.arange(64, dtype=np.int64).reshape(1, -1)
            >= (64 - nbits.astype(np.int64)).reshape(-1, 1))
    flat = bits[keep]  # row-major → fields concatenated in order
    return np.packbits(flat).tobytes()


class _BitReader:
    """MSB-first field reader. Each field is one ``int.from_bytes`` over the
    at most 9 bytes that hold it, then one shift and mask: no per-bit loop,
    and no whole-blob integer (whose shifts would make decode quadratic in
    blob length)."""

    __slots__ = ("buf", "pos", "nbits")

    def __init__(self, buf: bytes):
        self.nbits = 8 * len(buf)
        # zero tail: a prefix peek may run past the last field
        self.buf = bytes(buf) + bytes(9)
        self.pos = 0

    def peek(self, n: int) -> int:
        p = self.pos
        lo = p >> 3
        hi = (p + n + 7) >> 3
        word = int.from_bytes(self.buf[lo:hi], "big")
        return (word >> ((hi << 3) - p - n)) & ((1 << n) - 1)

    def read(self, n: int) -> int:
        out = self.peek(n)
        self.pos += n
        return out

    def check_end(self) -> None:
        if self.pos > self.nbits:
            raise ValueError("truncated Gorilla bitstream")


def _zigzag(x: np.ndarray) -> np.ndarray:
    return ((x << 1) ^ (x >> 63)).astype(np.uint64)


def _unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


# ---------------------------------------------------------------------------
# timestamp stream: delta-of-delta
# ---------------------------------------------------------------------------

_TS_CLASSES = (  # (prefix_bits, prefix_val, payload_bits, payload_limit)
    (1, 0b0, 0),
    (2, 0b10, 16),
    (3, 0b110, 32),
    (4, 0b1110, 64),
)


def encode_ts(ts_us: np.ndarray) -> bytes:
    """int64 µs timestamps → header(n, t0, d0) + dod bitstream."""
    n = len(ts_us)
    head = np.array([n, ts_us[0] if n else 0, 0], dtype=np.int64)
    if n >= 2:
        head[2] = ts_us[1] - ts_us[0]
    if n <= 2:
        return head.tobytes()
    deltas = np.diff(ts_us)
    dod = np.diff(deltas)  # n-2 entries
    zz = _zigzag(dod)
    vals = np.zeros(len(dod), dtype=np.uint64)
    nbits = np.zeros(len(dod), dtype=np.int64)
    fits16 = zz < (1 << 16)
    fits32 = zz < (1 << 32)
    zero = zz == 0
    # class 0: '0'
    nbits[zero] = 1
    # class 1: '10' + 16
    m1 = ~zero & fits16
    vals[m1] = (np.uint64(0b10) << np.uint64(16)) | zz[m1]
    nbits[m1] = 18
    # class 2: '110' + 32
    m2 = ~zero & ~fits16 & fits32
    vals[m2] = (np.uint64(0b110) << np.uint64(32)) | zz[m2]
    nbits[m2] = 35
    # class 3: '1110' + 64-bit payload → exceeds one 64-bit field, so splice
    # each such entry in as two fields (4-bit prefix, 64-bit payload)
    m3 = ~zero & ~fits32
    if m3.any():
        chunks = []
        last = 0
        for i in np.where(m3)[0]:
            chunks.append((vals[last:i], nbits[last:i]))
            chunks.append((np.array([0b1110], dtype=np.uint64), np.array([4])))
            chunks.append((zz[i : i + 1], np.array([64])))
            last = i + 1
        chunks.append((vals[last:], nbits[last:]))
        vals = np.concatenate([c[0] for c in chunks])
        nbits = np.concatenate([c[1] for c in chunks])
    return head.tobytes() + _pack(vals, nbits)


def decode_ts(buf: bytes) -> np.ndarray:
    head = np.frombuffer(buf[:24], dtype=np.int64)
    n, t0, d0 = int(head[0]), int(head[1]), int(head[2])
    if n == 0:
        return np.empty(0, dtype=np.int64)
    if n == 1:
        return np.array([t0], dtype=np.int64)
    r = _BitReader(buf[24:])
    dods = [0] * (n - 2)
    for i in range(n - 2):
        c = r.peek(4)  # class prefix: 0 | 10 | 110 | 1110
        if c < 0b1000:
            r.pos += 1
        elif c < 0b1100:
            r.pos += 2
            dods[i] = _unzigzag(r.read(16))
        elif c < 0b1110:
            r.pos += 3
            dods[i] = _unzigzag(r.read(32))
        else:
            r.pos += 4
            dods[i] = _unzigzag(r.read(64))
    r.check_end()
    # int64 cumsums wrap exactly like the encoder's np.diff
    deltas = np.empty(n, dtype=np.int64)
    deltas[0], deltas[1] = t0, d0
    deltas[2:] = d0 + np.cumsum(np.array(dods, dtype=np.int64))
    return np.cumsum(deltas)


# ---------------------------------------------------------------------------
# value stream: XOR
# ---------------------------------------------------------------------------


def encode_vals(values: np.ndarray) -> bytes:
    """float64 values → header(n, v0 bits) + Gorilla XOR bitstream."""
    v = np.ascontiguousarray(values, dtype=np.float64).view(np.uint64)
    n = len(v)
    head = np.array([n, v[0] if n else 0], dtype=np.uint64)
    if n <= 1:
        return head.tobytes()
    x = v[1:] ^ v[:-1]
    vals_list: list[tuple[int, int]] = []
    prev_lead, prev_len = -1, -1
    lz, tz = _leading_trailing_zeros(x)
    for i in range(len(x)):  # reference kernel; the hot path is the
        # vectorized encode_vals_shard below (same format, same policy)
        xi = int(x[i])
        if xi == 0:
            vals_list.append((0, 1))
            continue
        li, ti = int(lz[i]), int(tz[i])
        li = min(li, 31)  # 5-bit leading field
        mlen = 64 - li - ti
        if prev_lead == li and prev_len == mlen:
            # '10' + meaningful bits: window reuse under the STRICT policy —
            # reuse only when the element's own window equals the previous
            # nonzero's (what makes the shard encoder fully vectorizable;
            # the decoder accepts any reuse policy)
            mbits = (xi >> ti) & ((1 << mlen) - 1)
            vals_list.append((0b10, 2))
            vals_list.append((mbits, prev_len))
        else:
            # '11' + 5b lead + 6b len, then the payload field
            field = ((0b11 << 5) | li) << 6 | (mlen & 0x3F)  # mlen=64 → 0
            mbits = (xi >> ti) & ((1 << mlen) - 1)
            vals_list.append((field, 13))
            vals_list.append((mbits, mlen))
            prev_lead, prev_len = li, mlen
    vv = np.array([a for a, _ in vals_list], dtype=np.uint64)
    bb = np.array([b for _, b in vals_list], dtype=np.int64)
    return head.tobytes() + _pack(vv, bb)


def decode_vals(buf: bytes) -> np.ndarray:
    head = np.frombuffer(buf[:16], dtype=np.uint64)
    n = int(head[0])
    if n == 0:
        return np.empty(0, dtype=np.float64)
    r = _BitReader(buf[16:])
    xors = [0] * n
    xors[0] = int(head[1])
    lead, mlen = 0, 0
    for i in range(1, n):
        c = r.peek(2)  # class prefix: 0 | 10 | 11
        if c < 0b10:
            r.pos += 1
            continue
        if c == 0b11:
            window = r.read(13)  # '11' + 5b lead + 6b len
            lead = (window >> 6) & 0x1F
            mlen = (window & 0x3F) or 64
        else:
            r.pos += 2
        xors[i] = r.read(mlen) << (64 - lead - mlen)
    r.check_end()
    return np.bitwise_xor.accumulate(np.array(xors, dtype=np.uint64)).view(np.float64)


# ---------------------------------------------------------------------------
# shard-level vectorized encoder (same wire format as encode_ts/encode_vals,
# verified byte-identical in tests/test_codec.py)
#
# Round-1 4N-scaling bottleneck was Python-worker CPU in the encode kernel:
# a per-element Python loop in encode_vals plus ~60 small-numpy calls per
# conversation (~0.17M pts/s). This path computes deltas/XORs/leading-
# trailing-zero counts/field classes for the WHOLE Arrow shard in one numpy
# pass, runs the stateful Gorilla window machine as a run-length loop whose
# Python iteration count is the number of *window changes* (geometrically
# doubled scans keep it O(n) amortized even when windows churn), and packs
# all conversations' bitstreams with ONE np.packbits call, splitting on
# per-conversation byte-aligned offsets.
# ---------------------------------------------------------------------------


def _leading_trailing_zeros(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Exact leading/trailing-zero counts of uint64 array, vectorized."""
    lz = np.zeros(len(x), dtype=np.int64)
    tmp = x.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        mask = tmp >> np.uint64(64 - shift) == 0
        lz[mask] += shift
        tmp[mask] <<= np.uint64(shift)
    tz = np.zeros(len(x), dtype=np.int64)
    tmp = x.copy()
    nz = tmp != 0
    for shift in (32, 16, 8, 4, 2, 1):
        mask = nz & ((tmp & ((np.uint64(1) << np.uint64(shift)) - np.uint64(1))) == 0)
        tz[mask] += shift
        tmp[mask] >>= np.uint64(shift)
    tz[~nz] = 64
    return lz, tz


def _pack_groups(
    vals: np.ndarray, nbits: np.ndarray, field_counts: np.ndarray
) -> list[bytes]:
    """Pack per-group field runs into one bitstream per group, with ONE
    global np.packbits call. Groups are byte-aligned by appending a zero pad
    field per group, so the packed buffer splits exactly on byte offsets."""
    n_groups = len(field_counts)
    fc_cum = np.zeros(n_groups + 1, dtype=np.int64)
    np.cumsum(field_counts, out=fc_cum[1:])
    bit_cum = np.zeros(len(vals) + 1, dtype=np.int64)
    np.cumsum(nbits, out=bit_cum[1:])
    gbits = bit_cum[fc_cum[1:]] - bit_cum[fc_cum[:-1]]
    pads = (-gbits) % 8
    # interleave one pad field after each group's fields
    total = len(vals) + n_groups
    iv = np.zeros(total, dtype=np.uint64)
    ib = np.zeros(total, dtype=np.int64)
    idx = np.arange(len(vals), dtype=np.int64) + np.repeat(
        np.arange(n_groups, dtype=np.int64), field_counts
    )
    iv[idx] = vals
    ib[idx] = nbits
    ib[fc_cum[1:] + np.arange(n_groups)] = pads
    # global bit matrix → flat bits → bytes (same trick as _pack)
    bits = np.unpackbits(iv.astype(">u8").view(np.uint8)).reshape(-1, 64)
    keep = (
        np.arange(64, dtype=np.int64).reshape(1, -1)
        >= (64 - ib).reshape(-1, 1)
    )
    packed = np.packbits(bits[keep])
    boff = np.zeros(n_groups + 1, dtype=np.int64)
    np.cumsum((gbits + pads) // 8, out=boff[1:])
    pb = packed.tobytes()
    return [pb[boff[g]: boff[g + 1]] for g in range(n_groups)]


def _ts_fields(
    t: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Delta-of-delta fields for every conversation at once.

    Returns (vals, nbits, field_counts_per_conv, headers) where headers is
    the (n_convs, 3) int64 array of (n, t0, d0)."""
    n_convs = len(starts)
    counts = ends - starts
    heads = np.zeros((n_convs, 3), dtype=np.int64)
    heads[:, 0] = counts
    nonempty = counts > 0
    heads[nonempty, 1] = t[starts[nonempty]]
    two = counts >= 2
    heads[two, 2] = t[starts[two] + 1] - t[starts[two]]
    # dod positions: in-conversation position >= 2
    pos = np.arange(len(t), dtype=np.int64) - np.repeat(starts, counts)
    sel = pos >= 2
    i = np.flatnonzero(sel)
    dod = t[i] - 2 * t[i - 1] + t[i - 2]
    conv_of = np.repeat(np.arange(n_convs, dtype=np.int64), counts)[sel]
    zz = _zigzag(dod)
    vals = np.zeros(len(dod), dtype=np.uint64)
    nbits = np.ones(len(dod), dtype=np.int64)  # class 0 default: '0'
    fits16 = zz < (1 << 16)
    fits32 = zz < (1 << 32)
    zero = zz == 0
    m1 = ~zero & fits16
    vals[m1] = (np.uint64(0b10) << np.uint64(16)) | zz[m1]
    nbits[m1] = 18
    m2 = ~zero & ~fits16 & fits32
    vals[m2] = (np.uint64(0b110) << np.uint64(32)) | zz[m2]
    nbits[m2] = 35
    m3 = ~zero & ~fits32
    fcounts = np.bincount(conv_of, minlength=n_convs).astype(np.int64)
    if m3.any():
        # '1110' prefix and 64-bit payload become two fields: expand in place
        extra = m3.astype(np.int64)
        out_idx = np.arange(len(dod), dtype=np.int64) + np.concatenate(
            [[0], np.cumsum(extra)[:-1]]
        )
        total = len(dod) + int(extra.sum())
        v2 = np.zeros(total, dtype=np.uint64)
        b2 = np.zeros(total, dtype=np.int64)
        v2[out_idx] = vals
        b2[out_idx] = nbits
        m3_pos = out_idx[m3]
        v2[m3_pos] = 0b1110
        b2[m3_pos] = 4
        v2[m3_pos + 1] = zz[m3]
        b2[m3_pos + 1] = 64
        vals, nbits = v2, b2
        fcounts += np.bincount(conv_of[m3], minlength=n_convs)
    return vals, nbits, fcounts, heads


def encode_ts_shard(t: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> list[bytes]:
    """All conversations' timestamp blobs in one vectorized pass."""
    vals, nbits, fcounts, heads = _ts_fields(t, starts, ends)
    payloads = _pack_groups(vals, nbits, fcounts)
    return [heads[g].tobytes() + payloads[g] for g in range(len(starts))]


def encode_vals_shard(v: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> list[bytes]:
    """All conversations' value blobs — fully vectorized, zero per-element
    Python. XOR, leading/trailing zeros, window decisions, field assembly
    and the final pack are whole-shard numpy passes.

    The encoder emits case '10' (reuse) only when the element's own
    (lead, len) window EQUALS the previous nonzero's window in the same
    conversation — a per-element predicate against the shifted nonzero
    subsequence, hence vectorizable, unlike the paper's fits-within-previous
    rule whose state chain is inherently sequential. Stricter reuse is a
    valid encoder choice: the decoder (decode_vals, unchanged) accepts any
    mix of the three cases. Measured ratio cost on the driver corpus is
    ~2-4% (more 13-bit window headers), bought back ~30x in encode speed."""
    bits = np.ascontiguousarray(v, dtype=np.float64).view(np.uint64)
    n_convs = len(starts)
    counts = ends - starts
    pos = np.arange(len(bits), dtype=np.int64) - np.repeat(starts, counts)
    sel = pos >= 1
    i = np.flatnonzero(sel)
    x = bits[i] ^ bits[i - 1]
    conv_of = np.repeat(np.arange(n_convs, dtype=np.int64), counts)[sel]
    lz, tz = _leading_trailing_zeros(x)
    np.minimum(lz, 31, out=lz)  # 5-bit leading field
    nz = x != np.uint64(0)
    mlen = 64 - lz - tz  # meaningful bits (valid where nz)
    # new-window predicate: first nonzero of conv, or window differs from
    # the previous nonzero's window in the same conv
    inz = np.flatnonzero(nz)
    new_w = np.ones(len(inz), dtype=bool)
    if len(inz) > 1:
        same_conv = conv_of[inz][1:] == conv_of[inz][:-1]
        new_w[1:] = (
            ~same_conv
            | (lz[inz][1:] != lz[inz][:-1])
            | (tz[inz][1:] != tz[inz][:-1])
        )
    is_new = np.zeros(len(x), dtype=bool)
    is_new[inz] = new_w
    # fields: zero → 1 field ('0'); nonzero → control field + payload field
    nf_el = np.where(nz, 2, 1)
    out_idx = np.zeros(len(x), dtype=np.int64)
    np.cumsum(nf_el[:-1], out=out_idx[1:])
    total = int(out_idx[-1] + nf_el[-1]) if len(x) else 0
    vals = np.zeros(total, dtype=np.uint64)
    nbits = np.ones(total, dtype=np.int64)  # zeros: '0' (1 bit, value 0)
    ctrl = out_idx[nz]
    mlen_nz = mlen[nz]
    ctrl_val = np.where(
        is_new[nz],
        ((np.uint64(0b11) << np.uint64(5)) | lz[nz].astype(np.uint64))
        << np.uint64(6)
        | (mlen_nz.astype(np.uint64) & np.uint64(0x3F)),
        np.uint64(0b10),
    )
    vals[ctrl] = ctrl_val
    nbits[ctrl] = np.where(is_new[nz], 13, 2)
    # payload: meaningful bits; mask built as ~0 >> (64-mlen) (mlen=64-safe)
    mask = (~np.uint64(0)) >> (np.uint64(64) - mlen_nz.astype(np.uint64))
    vals[ctrl + 1] = (x[nz] >> tz[nz].astype(np.uint64)) & mask
    nbits[ctrl + 1] = mlen_nz
    fcounts = np.bincount(conv_of, weights=nf_el, minlength=n_convs).astype(np.int64)
    payloads = _pack_groups(vals, nbits, fcounts)
    heads = np.zeros((n_convs, 2), dtype=np.uint64)
    heads[:, 0] = counts
    nonempty = counts > 0
    heads[nonempty, 1] = bits[starts[nonempty]]
    return [heads[g].tobytes() + payloads[g] for g in range(n_convs)]


def encode_frame(pdf: pd.DataFrame, group_cols: list[str]) -> pd.DataFrame:
    """Encode a sorted shard frame → one row per group (conv or conv+chunk),
    entirely via the shard-level kernels."""
    n = len(pdf)
    if n == 0:
        cols = group_cols + [
            "n_points", "ts_blob", "val_blob", "raw_bytes", "enc_bytes"
        ]
        return pd.DataFrame({c: [] for c in cols})
    key = pdf[group_cols[0]].to_numpy()
    change = key[1:] != key[:-1]
    for c in group_cols[1:]:
        k2 = pdf[c].to_numpy()
        change = change | (k2[1:] != k2[:-1])
    starts = np.concatenate([[0], np.flatnonzero(change) + 1]).astype(np.int64)
    ends = np.concatenate([starts[1:], [n]]).astype(np.int64)
    t = pdf["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
    v = pdf["value"].to_numpy(dtype=np.float64)
    tbs = encode_ts_shard(t, starts, ends)
    vbs = encode_vals_shard(v, starts, ends)
    counts = (ends - starts).astype(np.int64)
    out = {c: pdf[c].to_numpy()[starts] for c in group_cols}
    out["n_points"] = counts
    out["ts_blob"] = tbs
    out["val_blob"] = vbs
    out["raw_bytes"] = counts * 16
    out["enc_bytes"] = np.array(
        [len(a) + len(b) for a, b in zip(tbs, vbs)], dtype=np.int64
    )
    cols = group_cols + ["n_points", "ts_blob", "val_blob", "raw_bytes", "enc_bytes"]
    return pd.DataFrame({c: out[c] for c in cols})


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

_ENC_SCHEMA = (
    "conv_id string, n_points long, ts_blob binary, val_blob binary, "
    "raw_bytes long, enc_bytes long"
)
_ENC_CHUNKED_SCHEMA = (
    "conv_id string, chunk_id int, n_points long, ts_blob binary, "
    "val_blob binary, raw_bytes long, enc_bytes long"
)


def compress_conversations_chunked(
    df: DataFrame, max_rows: int = 50_000, shards: int | None = None
) -> DataFrame:
    """Per-(conversation, chunk) blobs with chunks of ≤ max_rows turns —
    the group-size cap for conversations that would exceed task memory
    (SURVEY.md §7 hard-point (d); AISdb's 50k batching precedent,
    aisdb_lib/src/decode.rs:19). Chunks are contiguous turn ranges, so
    decoding is blob-concatenation in chunk_id order; round-trip identity
    is tested in tests/test_codec.py."""
    from aisdb_spark.plans.partitioning import cap_group_size

    capped = cap_group_size(
        df.select("conv_id", "turn_idx", "ts", "value"), max_rows
    )

    def _shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["conv_id", "chunk_id", "turn_idx"], kind="stable")
        return encode_frame(pdf, ["conv_id", "chunk_id"])

    spark = df.sparkSession
    n = shards or spark.sparkContext.defaultParallelism * 2
    return (
        capped.withColumn("_shard", F.pmod(F.hash("conv_id", "chunk_id"), F.lit(n)))
        # explicit-count repartition: keeps the Python stage parallel under
        # AQE coalescing (see plans/sharding.apply_per_conv); the groupBy
        # reuses this exchange — still exactly one shuffle
        .repartition(n, "_shard")
        .groupBy("_shard")
        .applyInPandas(lambda pdf: _shard(pdf.drop(columns=["_shard"])), _ENC_CHUNKED_SCHEMA)
    )


def _decode_enc_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """Decode a frame of (conv_id, ts_blob, val_blob) rows → point rows.
    Each blob is self-contained, so row order only affects output order
    (immaterial to the unordered result sets the queries produce)."""
    convs, tss, vss = [], [], []
    for conv, tb, vb in zip(pdf["conv_id"], pdf["ts_blob"], pdf["val_blob"]):
        t = decode_ts(bytes(tb))
        v = decode_vals(bytes(vb))
        convs.append(np.repeat(conv, len(t)))
        tss.append(t)
        vss.append(v)
    return pd.DataFrame(
        {
            "conv_id": np.concatenate(convs),
            "ts": pd.to_datetime(np.concatenate(tss), unit="us"),
            "value": np.concatenate(vss),
        }
    )


def decompress_conversations_chunked(enc: DataFrame) -> DataFrame:
    """Inverse of compress_conversations_chunked → (conv_id, ts, value);
    chunk order is restored by sorting blobs on (conv_id, chunk_id)."""

    def _batches(it):
        for pdf in it:
            if pdf.empty:
                continue
            yield _decode_enc_pdf(
                pdf.sort_values(["conv_id", "chunk_id"], kind="stable")
            )

    return enc.mapInPandas(_batches, "conv_id string, ts timestamp, value double")


def roundtrip_conversations_chunked(
    df: DataFrame, max_rows: int = 50_000, shards: int | None = None
) -> DataFrame:
    """Chunk-capped encode → decode in ONE Python stage (guide §4: the
    two-stage form ships every encoded blob JVM→Python→JVM→Python just to
    decode it again; fusing keeps the blobs inside the worker that built
    them). Same window cap, same shard exchange, same kernels — byte-wise
    the identical encode step as ``compress_conversations_chunked``
    followed by ``_decode_enc_pdf``, so the output rows are identical to
    the two-stage path (asserted in tests/test_codec.py)."""
    from aisdb_spark.plans.partitioning import cap_group_size

    capped = cap_group_size(
        df.select("conv_id", "turn_idx", "ts", "value"), max_rows
    )

    def _shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["conv_id", "chunk_id", "turn_idx"], kind="stable")
        enc = encode_frame(pdf, ["conv_id", "chunk_id"])
        if enc.empty:
            return pd.DataFrame({"conv_id": [], "ts": [], "value": []})
        return _decode_enc_pdf(enc)

    spark = df.sparkSession
    n = shards or spark.sparkContext.defaultParallelism * 2
    return (
        capped.withColumn("_shard", F.pmod(F.hash("conv_id", "chunk_id"), F.lit(n)))
        .repartition(n, "_shard")
        .groupBy("_shard")
        .applyInPandas(
            lambda pdf: _shard(pdf.drop(columns=["_shard"])),
            "conv_id string, ts timestamp, value double",
        )
    )


def compress_conversations(df: DataFrame, shards: int | None = None) -> DataFrame:
    """One compressed blob pair per conversation, ordered by turn_idx —
    the Timescale per-entity compression layout. Input needs ts + value.
    Emits per-entity lineage metrics (raw vs encoded bytes).

    Grouped by hash(conv_id) super-shards, with a pandas ``groupby`` over
    conversations inside each shard: JVM→Python group dispatch costs ~6 ms
    per group, so one applyInPandas group per *conversation* spent 29 s on
    dispatch alone at 10M turns / 150k convs; sharding amortizes it (same
    output, deterministic)."""

    def _shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="stable")
        return encode_frame(pdf, ["conv_id"])

    spark = df.sparkSession
    n = shards or spark.sparkContext.defaultParallelism * 2
    return (
        df.select("conv_id", "turn_idx", "ts", "value")
        .withColumn("_shard", F.pmod(F.hash("conv_id"), F.lit(n)))
        # explicit-count repartition: keeps the Python stage parallel under
        # AQE coalescing (see plans/sharding.apply_per_conv)
        .repartition(n, "_shard")
        .groupBy("_shard")
        .applyInPandas(lambda pdf: _shard(pdf.drop(columns=["_shard"])), _ENC_SCHEMA)
    )


def compress_partitions(df: DataFrame, assume_partitioned: bool = False) -> DataFrame:
    """Zero-shuffle codec: encode directly over conv_id-partitioned data via
    ``mapInPandas`` with cross-batch carry-over.

    With storage bucketed by conv_id (the Iceberg ``bucket(64, conv_id)``
    layout / TimescaleDB ``partitioning_column => 'mmsi'``), every
    conversation is wholly contained in one partition — so compression
    needs NO exchange at all: sort within partitions, stream Arrow batches,
    hold back the possibly-incomplete tail conversation of each batch.
    ``assume_partitioned=False`` adds the hash exchange for arbitrary input.
    """
    base = df.select("conv_id", "turn_idx", "ts", "value")
    if not assume_partitioned:
        # explicit-count repartition: keeps the Python stage parallel under
        # AQE coalescing (see codec_arrow.compress_partitions_arrow)
        spark = df.sparkSession
        n = max(
            int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
            spark.sparkContext.defaultParallelism,
        )
        base = base.repartition(n, "conv_id")
    # sort JVM-side, then DROP turn_idx before the Python exchange: rows
    # arrive ordered, so the index is dead weight — one less column through
    # the Arrow worker protocol (~20% less serialization CPU + bytes on the
    # dominant cost of this stage; see PLANS.md round-2 notes)
    base = base.sortWithinPartitions("conv_id", "turn_idx").select(
        "conv_id", "ts", "value"
    )

    def _encode_frame(pdf: pd.DataFrame) -> pd.DataFrame:
        return encode_frame(pdf, ["conv_id"])

    def _parts(it):
        buf: pd.DataFrame | None = None
        for pdf in it:
            if buf is not None and len(buf):
                pdf = pd.concat([buf, pdf], ignore_index=True)
            if not len(pdf):
                continue
            # rows are (conv, turn) sorted: the last conversation may continue
            # in the next Arrow batch — hold it back
            last = pdf["conv_id"].iloc[-1]
            tail_start = pdf["conv_id"].searchsorted(last, side="left")
            body, buf = pdf.iloc[:tail_start], pdf.iloc[tail_start:]
            if len(body):
                yield _encode_frame(body)
        if buf is not None and len(buf):
            yield _encode_frame(buf)

    return base.mapInPandas(_parts, _ENC_SCHEMA)


def decompress_conversations(enc: DataFrame) -> DataFrame:
    """Inverse of compress_conversations → (conv_id, ts, value).

    ``mapInPandas`` (not groupBy): blobs are already one-row-per-entity, so
    decode is embarrassingly parallel per partition — no shuffle, no
    per-group dispatch overhead."""

    def _batches(it):
        for pdf in it:
            if not pdf.empty:
                yield _decode_enc_pdf(pdf)

    return enc.mapInPandas(_batches, "conv_id string, ts timestamp, value double")


def decode_enc_batches_arrow(it):
    """Arrow decode generator over encoded RecordBatches — shared by
    :func:`decompress_conversations_arrow` (standalone stage) and the
    fused roundtrip in ``codec_arrow`` (same bytes in, same rows out)."""
    import pyarrow as pa

    out_schema = pa.schema(
        [
            pa.field("conv_id", pa.string()),
            pa.field("ts", pa.timestamp("us")),
            pa.field("value", pa.float64()),
        ]
    )
    for rb in it:
        if rb.num_rows == 0:
            continue
        convs = rb.column(rb.schema.get_field_index("conv_id"))
        tbs = rb.column(rb.schema.get_field_index("ts_blob"))
        vbs = rb.column(rb.schema.get_field_index("val_blob"))
        tss, vss, lens = [], [], np.empty(rb.num_rows, dtype=np.int64)
        for g in range(rb.num_rows):
            t = decode_ts(tbs[g].as_py())
            vss.append(decode_vals(vbs[g].as_py()))
            tss.append(t)
            lens[g] = len(t)
        # conv_id expanded as a dictionary array: indices repeat, the
        # string values stay one-per-conversation
        idx = np.repeat(np.arange(rb.num_rows, dtype=np.int32), lens)
        conv_col = pa.DictionaryArray.from_arrays(pa.array(idx), convs)
        ts_col = pa.array(np.concatenate(tss) if tss else np.array([], np.int64)).cast(
            pa.timestamp("us")
        )
        val_col = pa.array(
            np.concatenate(vss) if vss else np.array([], np.float64)
        )
        yield pa.RecordBatch.from_arrays(
            [conv_col.cast(pa.string()), ts_col, val_col], schema=out_schema
        )


def decompress_conversations_arrow(enc: DataFrame) -> DataFrame:
    """Arrow-native decode: ``mapInArrow`` over the blob table (SURVEY.md
    §2.9's stated kernel surface). Identical output to
    ``decompress_conversations``; skips the Arrow→pandas→Arrow conversion
    entirely — the decoded numpy arrays are handed straight back as Arrow
    arrays (zero-copy for the fixed-width ts/value columns), which matters
    when decode feeds another JVM stage at 100 TB (no object-dtype
    materialization of conv_id strings per row on the Python side either:
    the repeated-key column is built as one DictionaryArray)."""
    return enc.mapInArrow(
        decode_enc_batches_arrow, "conv_id string, ts timestamp, value double"
    )
