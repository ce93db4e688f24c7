"""Self-test of the output checks: each check passes on correct outputs and
fails on outputs corrupted by one dropped row or one changed sum.

    python3 perfbench/selftest.py

The correct outputs are built without Spark (DuckDB over the generated
input), so the test needs no JVM. Exits 0 when every check behaves.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def drop_row(tbl):
    return tbl.slice(1)


def change_value(tbl, col):
    import pyarrow as pa

    vals = tbl[col].to_pylist()
    vals[0] = vals[0] + 1
    return tbl.set_column(tbl.schema.get_field_index(col), col, pa.array(vals, tbl[col].type))


def kernel_outputs(inp: str) -> dict:
    """What a correct kernels pass returns, restricted to the checked
    subset of conversations (the check filters the engine's output to it)."""
    from aisdb_spark.queries import ORACLES
    from perfbench import checks
    from perfbench.workloads import KERNEL_QUERIES

    full = checks.duck(inp)
    rt = full.execute(
        f"""SELECT v AS variant, conv_id, make_timestamp(epoch_us(ts)) AS ts, CAST(value AS DOUBLE) AS value
        FROM ({checks.TURNS_SQL}), (VALUES ('arrow'), ('chunked')) t(v)"""
    ).arrow()
    users = checks._subset_users(inp)  # noqa: SLF001
    sub = checks.duck(inp, f"user_id IN ({','.join(map(str, users))})")
    out = {"gorilla_roundtrip": rt}
    for name in KERNEL_QUERIES[1:]:
        out[name] = sub.execute(ORACLES[name]).arrow()
    return out


def drain_tiers(con, landing: str, base: str) -> dict:
    """Tiers as a correct drain leaves them: DuckDB rollups of the landed
    turns, written day-partitioned like the engine's tiers."""
    from perfbench import checks

    tiers = {}
    os.makedirs(base)
    for tier, unit in (("1min", "minute"), ("1h", "hour"), ("1d", "day")):
        d = os.path.join(base, tier)
        sql = checks.ROLLUP_SQL.format(unit=unit, turns="SELECT * FROM turns")
        con.execute(
            f"""COPY (SELECT * REPLACE (make_timestamp(bucket_start) AS bucket_start),
                  CAST(make_timestamp(bucket_start) AS DATE) AS bucket_date FROM ({sql}))
                TO '{d}' (FORMAT parquet, PARTITION_BY (bucket_date))"""
        )
        tiers[tier] = d
    return tiers


def main() -> int:
    sys.path.insert(0, ROOT)
    import duckdb
    import pyarrow.parquet as pq

    from perfbench import checks, gen

    failures = []

    def expect(label: str, fails: list[str], should_fail: bool) -> None:
        ok = bool(fails) == should_fail
        print(f"{'ok  ' if ok else 'FAIL'} {label}: {'rejected' if fails else 'accepted'}")
        if not ok:
            failures.append(label)

    inp = gen.cached(1, os.path.join(ROOT, ".perfbench", "inputs"))
    out = kernel_outputs(inp)
    expect("kernels, correct outputs", checks.check_kernels(inp, out), False)
    for name, col in (
        ("gorilla_roundtrip", "value"),
        ("gorilla_metrics", "enc_bytes"),
        ("ewma_03", "ewma_value"),
        ("interp_cubic_spline", "value"),
        ("lttb_64", "value"),
    ):
        for how, bad in (("one row dropped", drop_row(out[name])), ("one value changed", change_value(out[name], col))):
            expect(f"kernels, {name} {how}", checks.check_kernels(inp, {**out, name: bad}), True)

    work = tempfile.mkdtemp(dir=os.path.join(ROOT, ".perfbench"))
    try:
        landing = os.path.join(work, "landing")
        os.makedirs(landing)
        shutil.copyfile(os.path.join(inp, "turns.parquet"), os.path.join(landing, "part-base.parquet"))
        con = duckdb.connect()
        con.execute(f"CREATE VIEW turns AS SELECT * FROM read_parquet('{landing}/*.parquet')")
        tiers = drain_tiers(con, landing, os.path.join(work, "tiers"))
        expect("drain, correct tiers", checks.check_drain(landing, tiers), False)
        for tier in ("1min", "1h", "1d"):
            part = sorted(os.listdir(tiers[tier]))[0]
            path = os.path.join(tiers[tier], part, os.listdir(os.path.join(tiers[tier], part))[0])
            good = pq.read_table(path)
            for how, bad in (("one row dropped", drop_row(good)), ("one sum changed", change_value(good, "sum_value"))):
                pq.write_table(bad, path)
                expect(f"drain {tier}, {how}", checks.check_drain(landing, tiers), True)
            pq.write_table(good, path)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("self-test", "passed" if not failures else f"FAILED: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
