"""Seeded input generator for the benchmark.

Writes an sf-shaped input directory (``events.parquet``, the layout the
engine's query registry reads) plus the late-data waves the ``drain``
workload lands one at a time. Everything is a pure function of the seed
and the size constants below: the same seed gives byte-identical files.

Make-up follows the sf0.1 test tables, grown with key offsets and seeded
jitter:

- events: 5 event types, ``props = '{"k": N}'``, timestamps spread over
  ``DAYS`` days with microsecond jitter, so every conversation spans many
  days. A few hot conversations carry ``HOT_WEIGHT`` times the median
  share of events. ``user_id`` and ``event_id`` start at seed-derived
  offsets.
- late waves: a sample of the events of the last third of the span is
  held back from ``events.parquet`` and cut into ``N_WAVES`` contiguous
  time slices, so each wave revisits a day already materialized. The
  on-time turns (``turns.parquet``) and each wave are stored as turns
  ``(conv_id, turn_idx, ts, value)``; ``turn_idx`` is numbered over the
  on-time and late turns together, so it stays monotone in ``ts``.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1
CACHED_SEEDS = 4
DAYS = 30
BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000

N_EVENTS = 40_000
N_USERS = 600
N_HOT = 3
HOT_WEIGHT = 10.0
N_WAVES = 60
WAVE_EVENTS = 100

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _events(rng, n, users, weights, ev_off, lo_us, hi_us):
    uid = rng.choice(users, size=n, p=weights)
    ts = np.sort(rng.integers(lo_us, hi_us, size=n))
    etype = rng.integers(0, len(EVENT_TYPES), size=n)
    value = np.round(rng.gamma(2.0, 25.0, size=n), 2)
    k = rng.integers(0, 100, size=n)
    return {
        "event_id": np.arange(ev_off, ev_off + n, dtype=np.int64),
        "ts": ts,
        "user_id": uid.astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in etype],
        "value": value,
        "props": [f'{{"k": {int(x)}}}' for x in k],
    }


def _events_table(ev) -> pa.Table:
    return pa.table(
        {
            "event_id": pa.array(ev["event_id"], pa.int64()),
            "ts": pa.array(ev["ts"], pa.timestamp("us")),
            "user_id": pa.array(ev["user_id"], pa.int64()),
            "event_type": pa.array(ev["event_type"], pa.string()),
            "value": pa.array(ev["value"], pa.float64()),
            "props": pa.array(ev["props"], pa.string()),
        }
    )


def _turns_table(ev, turn_idx) -> pa.Table:
    text_len = [len(t) + 1 + len(p) for t, p in zip(ev["event_type"], ev["props"])]
    return pa.table(
        {
            "conv_id": pa.array([f"conv-{u}" for u in ev["user_id"]], pa.string()),
            "turn_idx": pa.array(turn_idx, pa.int32()),
            "ts": pa.array(ev["ts"], pa.timestamp("us")),
            "value": pa.array(text_len, pa.int64()),
        }
    )


def _turn_idx(ev) -> np.ndarray:
    """Dense per-conversation ordinal by (ts, event_id), the
    ``TRANSCRIPTS_CTE`` derivation."""
    order = np.lexsort((ev["event_id"], ev["ts"], ev["user_id"]))
    uid = ev["user_id"][order]
    idx = np.empty(len(uid), dtype=np.int64)
    start = 0
    for i in range(1, len(uid) + 1):
        if i == len(uid) or uid[i] != uid[start]:
            idx[order[start:i]] = np.arange(i - start)
            start = i
    return idx


def generate(seed: int, out_dir: str) -> None:
    """Write every input for ``seed`` into ``out_dir`` (replaced)."""
    rng = np.random.default_rng(seed)
    user_off = 1_000 * (seed % 997)
    ev_off = 1_000_000 * (seed % 997)
    users = np.arange(user_off, user_off + N_USERS)
    weights = rng.uniform(0.5, 1.5, size=N_USERS)
    weights[rng.choice(N_USERS, size=N_HOT, replace=False)] *= HOT_WEIGHT
    weights /= weights.sum()
    jitter = int(rng.integers(0, 3_600_000_000))
    lo, hi = BASE_US + jitter, BASE_US + jitter + DAYS * DAY_US

    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "waves"))
    n_late = N_WAVES * WAVE_EVENTS
    ev = _events(rng, N_EVENTS + n_late, users, weights, ev_off, lo, hi)
    # turn_idx over ALL events (on-time and late), so it stays monotone in
    # ts within a conversation, as the transcripts contract requires
    tix = _turn_idx(ev)
    # late turns: a sample of the last third of the span, held back and
    # delivered in waves; each wave is a contiguous ts slice (it revisits
    # one or two materialized days), and waves land in seeded order
    recent = np.flatnonzero(ev["ts"] >= hi - DAYS * DAY_US // 3)
    late = np.sort(rng.choice(recent, size=n_late, replace=False))
    on_time = np.setdiff1d(np.arange(len(tix)), late)

    def take(idx):
        return {k: (v[idx] if isinstance(v, np.ndarray) else [v[i] for i in idx]) for k, v in ev.items()}

    base = take(on_time)
    pq.write_table(_events_table(base), os.path.join(tmp, "events.parquet"))
    pq.write_table(_turns_table(base, tix[on_time]), os.path.join(tmp, "turns.parquet"))
    order = rng.permutation(N_WAVES)
    for w, chunk in enumerate(np.array_split(late, N_WAVES)):
        wv, name = take(chunk), f"{int(order[w]):04d}"
        pq.write_table(_turns_table(wv, tix[chunk]), os.path.join(tmp, "waves", f"turns-{name}.parquet"))

    with open(os.path.join(tmp, "_DONE"), "w") as f:
        json.dump({"seed": seed, "version": GEN_VERSION}, f)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def cached(seed: int, cache_root: str) -> str:
    """Input dir for ``seed`` under ``cache_root``, generated on a miss.
    At most ``CACHED_SEEDS`` seeds stay cached (least recently used go
    first), so a long series of seeds does not fill the disk."""
    d = os.path.join(cache_root, f"seed-{seed}-v{GEN_VERSION}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        os.makedirs(cache_root, exist_ok=True)
        generate(seed, d)
    os.utime(d)
    others = sorted(
        (os.path.getmtime(os.path.join(cache_root, n)), n)
        for n in os.listdir(cache_root)
        if n != os.path.basename(d)
    )
    for _m, n in others[: max(0, len(others) - (CACHED_SEEDS - 1))]:
        shutil.rmtree(os.path.join(cache_root, n), ignore_errors=True)
    return d
