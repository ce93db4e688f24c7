"""Output checks, computed apart from Spark (DuckDB, pyarrow, numpy).

Each ``check_*`` returns a list of failure messages; an empty list means
the outputs passed. Rows are compared as multisets with floats compared
bit-exactly and timestamps as epoch microseconds, so row order and the
engine's timestamp types do not matter.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
from collections import Counter

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The transcripts derivation of the engine's input contract, restated here
# so the checks do not depend on the engine's own SQL text.
TURNS_SQL = """
SELECT 'conv-' || CAST(user_id AS VARCHAR) AS conv_id,
  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
  ts, CAST(length(event_type || ' ' || props) AS BIGINT) AS value
FROM events"""

ROLLUP_SQL = """
SELECT conv_id, epoch_us(date_trunc('{unit}', ts)) AS bucket_start,
  count(*) AS n_turns, CAST(sum(value) AS BIGINT) AS sum_value,
  min(value) AS min_value, max(value) AS max_value,
  arg_min(value, turn_idx) AS first_value, arg_max(value, turn_idx) AS last_value
FROM ({turns}) GROUP BY 1, 2"""

TIER_SQL = """
SELECT conv_id, epoch_us(bucket_start) AS bucket_start, n_turns, sum_value,
  min_value, max_value, first_value, last_value
FROM read_parquet('{dir}/bucket_date=*/*.parquet')"""

EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else v.hex()
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        return str((v - EPOCH) // dt.timedelta(microseconds=1))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def multiset(cols: list[str], rows) -> Counter:
    """Rows as a multiset of canonical strings, columns in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter("|".join(_canon(r[i]) for i in order) for r in rows)


def arrow_rows(tbl) -> tuple[list[str], list[tuple]]:
    cols = tbl.column_names
    return cols, list(zip(*(tbl.column(c).to_pylist() for c in cols))) if tbl.num_rows else []


def diff(label: str, got: Counter, want: Counter) -> list[str]:
    if got == want:
        return []
    extra, missing = got - want, want - got
    return [
        f"{label}: {sum(got.values())} rows vs {sum(want.values())} expected; "
        f"unexpected {list(extra)[:2]}, missing {list(missing)[:2]}"
    ]


def _sql(con, sql: str) -> Counter:
    cur = con.execute(sql)
    return multiset([d[0] for d in cur.description], cur.fetchall())


def duck(inp: str, events_filter: str = "") -> duckdb.DuckDBPyConnection:
    """DuckDB view ``events`` over the generated input, the table the
    registry's oracle SQL reads, restricted by ``events_filter`` (a WHERE
    clause) when given."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    where = f"WHERE {events_filter}" if events_filter else ""
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{inp}/events.parquet') {where}")
    return con


def check_drain(landing: str, tiers: dict) -> list[str]:
    """After the last wave, every tier equals a DuckDB batch rollup of
    every turn landed so far."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW turns AS SELECT * FROM read_parquet('{landing}/*.parquet')")
    fails = []
    for tier, unit in (("1min", "minute"), ("1h", "hour"), ("1d", "day")):
        fails += diff(
            f"drain {tier}",
            _sql(con, TIER_SQL.format(dir=tiers[tier])),
            _sql(con, ROLLUP_SQL.format(unit=unit, turns="SELECT * FROM turns")),
        )
    return fails


# The registry oracles of the Python kernels are recursive or windowed SQL
# that takes tens of seconds over every conversation at the benchmark's
# size, so they run on a seeded subset of conversations: the oracle reads
# only their events, and the engine's output is filtered to the same
# conversations (every kernel is per-conversation). The recursive oracles
# step all conversations in lockstep, so one hot conversation sets their
# depth (a 778-turn one made a check take 30 s longer): the subset is drawn
# from conversations of at most SUBSET_MAX_TURNS turns. The hot ones are
# still checked exactly by the gorilla_roundtrip identity.
SUBSET_CONVS = 40
SUBSET_MAX_TURNS = 200


def _subset_users(inp: str) -> list[int]:
    with open(os.path.join(inp, "_DONE")) as f:
        seed = json.load(f)["seed"]
    ids = pq.read_table(os.path.join(inp, "events.parquet"), columns=["user_id"])["user_id"]
    counts = pc.value_counts(ids).flatten()
    users = pc.filter(counts[0], pc.less_equal(counts[1], SUBSET_MAX_TURNS)).to_numpy()
    rng = np.random.default_rng(seed)
    return sorted(int(u) for u in rng.choice(np.sort(users), size=SUBSET_CONVS, replace=False))


def check_kernels(inp: str, out: dict) -> list[str]:
    """Both gorilla_roundtrip variants return the input (conv_id, ts,
    value) exactly; every other kernel equals its registry DuckDB oracle
    on the subset of conversations."""
    from aisdb_spark.queries import ORACLES

    fails = []
    con = duck(inp)
    want = _sql(con, f"SELECT conv_id, epoch_us(ts) AS ts, CAST(value AS DOUBLE) AS value FROM ({TURNS_SQL})")
    rt = out["gorilla_roundtrip"]
    for variant in ("arrow", "chunked"):
        part = rt.filter(pc.equal(rt["variant"], variant)).select(["conv_id", "ts", "value"])
        fails += diff(f"gorilla_roundtrip {variant}", multiset(*arrow_rows(part)), want)
    users = _subset_users(inp)
    sub = duck(inp, f"user_id IN ({','.join(map(str, users))})")
    convs = pa.array([f"conv-{u}" for u in users])
    for name, tbl in out.items():
        if name != "gorilla_roundtrip":
            tbl = tbl.filter(pc.is_in(tbl["conv_id"], value_set=convs))
            fails += diff(name, multiset(*arrow_rows(tbl)), _sql(sub, ORACLES[name]))
    return fails
