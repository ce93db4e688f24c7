"""Drain-path partial algebra: the tier-as-state rollup drain's merge
invariants (split-invariance under arbitrary micro-batch partitions,
multi-wave convergence to the one-shot batch answer) and the round-5
crash-safety properties of the journaled tier commit."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from aisdb_spark.streaming import rollup_stream


def test_rollup_partial_merge_is_split_invariant(spark):
    """Hypothesis over random events and random micro-batch partitions for
    the EVENTS rollup-partial algebra (the tier-as-state drain path,
    drained_rollup_1min): merging per-part partials reproduces the one-shot
    rollup_measures answer for EVERY split — including first/last under
    duplicate timestamps, where only the (ts, event_id) total order
    disambiguates (slots collide constantly at max_size=14 over 10 slots,
    and values differ per event so a wrong winner changes first/last)."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    base = dt.datetime(2025, 3, 1, 12, 0)

    @settings(
        max_examples=10, deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        st.lists(  # (user, 20-sec slot — NON-unique, so ts ties happen)
            st.tuples(st.integers(0, 1), st.integers(0, 9)),
            min_size=1, max_size=14,
        ),
        st.lists(st.integers(0, 2), min_size=14, max_size=14),  # part per event
    )
    def run(evts, parts_assign):
        rows = [
            (i, u, base + dt.timedelta(seconds=20 * slot),
             float(i) * 0.37 - 1.0, parts_assign[i])
            for i, (u, slot) in enumerate(evts)
        ]
        ev = spark.createDataFrame(
            rows,
            "event_id long, user_id long, ts timestamp, value double, part int",
        )
        whole = rollup_stream.rollup_measures(ev)
        u = None
        for p in range(3):
            pp = rollup_stream.rollup_partials_events(
                ev.filter(F.col("part") == p)
            )
            u = pp if u is None else u.unionByName(pp)
        merged = rollup_stream.merge_rollup_partials(u).select(
            *rollup_stream._ROLLUP_TIER_COLS
        )
        assert merged.exceptAll(whole).count() == 0
        assert whole.exceptAll(merged).count() == 0

    run()


def test_multiwave_partial_drain_matches_batch(spark, tmp_path):
    """Three hand-driven waves through upsert_rollup_partials_batch — the
    tier itself is the cross-batch state — must converge to the one-shot
    batch rollup, with waves 2 and 3 landing LATE rows into buckets wave 1
    already wrote (the no-watermark losslessness claim), and a replayed
    epoch must be a no-op on the tier bytes."""
    base = dt.datetime(2025, 3, 1, 12, 0)
    tier = str(tmp_path / "tier")

    def ev_df(rows):
        return spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, value double"
        )

    # wave 1: bucket 12:00 and 12:01; wave 2: late row back into 12:00
    # (same user — must merge n/sum and steal first via smaller event_id);
    # wave 3: new user + a last-stealing row (same ts as event 2, larger id)
    w1 = [(10, 1, base + dt.timedelta(seconds=30), 5.00),
          (20, 1, base + dt.timedelta(seconds=90), 7.00)]
    w2 = [(5, 1, base + dt.timedelta(seconds=10), 3.00)]
    w3 = [(30, 2, base + dt.timedelta(seconds=45), 9.00),
          (40, 1, base + dt.timedelta(seconds=30), 1.00)]
    for e, rows in enumerate([w1, w2, w3]):
        rollup_stream.upsert_rollup_partials_batch(
            spark, ev_df(rows), tier, epoch_id=e
        )
    got = spark.read.parquet(tier).select(*rollup_stream._ROLLUP_TIER_COLS)
    expected = rollup_stream.rollup_measures(ev_df(w1 + w2 + w3))
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0
    # the 12:00/user-1 bucket saw all three waves: first stolen by wave 2,
    # last stolen by wave 3's tie-breaking larger event_id
    row = got.filter(
        (F.col("user_id") == 1) & (F.col("bucket_start") == base)
    ).first()
    assert (row.n_events, row.first_cents, row.last_cents) == (3, 300, 100)
    # replayed epoch: skipped via _epoch.json, tier unchanged
    rollup_stream.upsert_rollup_partials_batch(
        spark, ev_df([(99, 9, base, 99.0)]), tier, epoch_id=2
    )
    assert got.filter(F.col("user_id") == 9).count() == 0


def _sess_df(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, session_start timestamp, session_end timestamp,"
        " n_events long, sum_cents long"
    )


def test_horizon_file_loss_recovers_from_tier(spark, tmp_path):
    """Round-4 verdict item 1: _horizon.json is a cache, not a correctness
    dependency. Delete it under a tier holding a 3-day session; the next
    drain must recompute the horizon from the tier (max session span),
    re-record it, and still merge a late partial with the long session —
    no duplicate, no split. (Pre-fix behavior: silent default to 1 day →
    the read window misses day 1 → duplicated session.)"""
    import datetime as dt
    import json
    import os

    tier = str(tmp_path / "tier")
    d1 = dt.datetime(2025, 3, 1, 0, 0)
    d4_noon = dt.datetime(2025, 3, 4, 0, 0)  # 72-hour session
    rollup_stream.upsert_sessions_batch(
        spark, _sess_df(spark, [(7, d1, d4_noon, 100, 1000)]), tier, epoch_id=0
    )
    os.remove(os.path.join(tier, "_horizon.json"))  # the lost side file
    late = d4_noon + dt.timedelta(minutes=20)
    rollup_stream.upsert_sessions_batch(
        spark,
        _sess_df(spark, [(7, late, late + dt.timedelta(minutes=10), 5, 50)]),
        tier, epoch_id=1,
    )
    got = spark.read.parquet(tier).select(*rollup_stream._SESSION_TIER_COLS)
    assert got.count() == 1  # merged, not duplicated
    row = got.first()
    assert (row.session_start, row.session_end, row.n_events, row.sum_cents) == (
        d1, late + dt.timedelta(minutes=10), 105, 1050
    )
    # the recovered horizon was re-recorded from the tier (3-day span)
    with open(os.path.join(tier, "_horizon.json")) as f:
        assert json.load(f)["max_span_days"] >= 3
    # corrupt file over a non-empty tier recovers identically
    with open(os.path.join(tier, "_horizon.json"), "w") as f:
        f.write("{not json")
    assert rollup_stream._session_horizon_days(spark, tier) >= 3


def test_upsert_sessions_merge_moves_partition_file_uri(spark, tmp_path):
    """Round-4 verdict item 2: the sessions drain must not be silently
    local-fs-bound. Same merge-moves-partition scenario as the plain-path
    test, but the tier is a file:// URI — every side-file read/write, the
    tier-nonempty probe, and the emptied-partition cleanup go through the
    Hadoop FileSystem API (the identical client a real cluster uses for
    hdfs:// / s3a://)."""
    import datetime as dt
    import os

    local = str(tmp_path / "tier")
    tier = f"file://{local}"
    d1, d2 = dt.datetime(2025, 3, 1, 23, 50), dt.datetime(2025, 3, 2, 0, 10)
    rollup_stream.upsert_sessions_batch(
        spark, _sess_df(spark, [(7, d2, d2 + dt.timedelta(minutes=10), 3, 30)]),
        tier, epoch_id=0,
    )
    assert os.path.isdir(f"{local}/bucket_date=2025-03-02")
    rollup_stream.upsert_sessions_batch(
        spark, _sess_df(spark, [(7, d1, d1 + dt.timedelta(minutes=5), 2, 20)]),
        tier, epoch_id=1,
    )
    got = spark.read.parquet(tier).select(*rollup_stream._SESSION_TIER_COLS)
    assert got.count() == 1
    row = got.first()
    assert (row.user_id, row.n_events, row.sum_cents) == (7, 5, 50)
    # merged row moved to day 1; the emptied day-2 partition is GONE
    # (this is exactly what shutil.rmtree on the URI string failed to do)
    assert os.path.isdir(f"{local}/bucket_date=2025-03-01")
    assert not os.path.isdir(f"{local}/bucket_date=2025-03-02")
    # replayed epoch via the Hadoop-side _epoch.json is a no-op
    rollup_stream.upsert_sessions_batch(
        spark, _sess_df(spark, [(9, d2, d2 + dt.timedelta(minutes=5), 1, 10)]),
        tier, epoch_id=1,
    )
    assert spark.read.parquet(tier).count() == 1


# crash points per tier writer: every writer commits through
# txn.merge_into_tier, so ``backup`` and ``epoch`` apply to all of them;
# ``horizon`` is the sessions writer's own side record. The cascade
# commits three tiers, 1h, then 1d, then 1min, each through the journaled
# swap; each of its cases aims the crash at one tier's directory
# (``cascade`` is the 1min tier, the cascade's commit point)
_CRASH_MATRIX = [
    (writer, point)
    for writer, points in (
        ("cascade", ("backup", "epoch")),
        ("cascade-1h", ("backup", "epoch")),
        ("cascade-1d", ("backup", "epoch")),
        ("partials", ("backup", "epoch")),
        ("sessions", ("backup", "epoch", "horizon")),
    )
    for point in points
]
_CRASH_DIR = {"cascade-1h": "t1h", "cascade-1d": "t1d"}  # else "tier"


def _crash_case(spark, writer, evts, base, tmp):
    """(apply(wave, epoch), check()) for one writer over hypothesis events
    ``(entity, 15-min slot, wave)``; ``check`` asserts the tier(s) equal
    the one-shot batch answer over all events."""
    from aisdb_spark.operators import rollup
    from aisdb_spark.streaming import upsert

    tier = str(tmp / "tier")
    ts = [base + dt.timedelta(minutes=15 * slot) for _, slot, _ in evts]

    def same(got, whole):
        assert got.exceptAll(whole).count() == 0
        assert whole.exceptAll(got).count() == 0

    if writer.startswith("cascade"):
        # turn_idx follows ts within a conversation (the transcripts
        # invariant tier_from_finer relies on); integral values keep the
        # double sums exact under any merge order
        order = sorted(range(len(evts)), key=lambda i: (evts[i][0], ts[i], i))
        turn_idx = {i: k for k, i in enumerate(order)}
        tv = spark.createDataFrame(
            [
                (f"c{c}", turn_idx[i], ts[i], float(i % 5) - 2.0, wave)
                for i, (c, _, wave) in enumerate(evts)
            ],
            "conv_id string, turn_idx int, ts timestamp, value double, wave int",
        )
        dirs = {"1h": str(tmp / "t1h"), "1d": str(tmp / "t1d")}

        def apply(w, epoch):
            upsert.upsert_batch_cascade(
                spark, tv.filter(F.col("wave") == w), tier, dirs, epoch_id=epoch
            )

        def check():
            exp_1m = rollup.temporal_bin(tv, "minute")
            exp_1h = rollup.tier_from_finer(exp_1m, "hour")
            same(upsert.read_tier_public(spark, tier), exp_1m)
            for unit, exp in (("1h", exp_1h), ("1d", rollup.tier_from_finer(exp_1h, "day"))):
                same(spark.read.parquet(dirs[unit]).drop("bucket_date"), exp)

        return apply, check
    ev = spark.createDataFrame(
        [(i, u, ts[i], float(i) * 0.37 - 1.0, wave) for i, (u, _, wave) in enumerate(evts)],
        "event_id long, user_id long, ts timestamp, value double, wave int",
    )
    if writer == "partials":
        def apply(w, epoch):
            rollup_stream.upsert_rollup_partials_batch(
                spark, ev.filter(F.col("wave") == w), tier, epoch_id=epoch
            )

        def check():
            got = spark.read.parquet(tier).select(*rollup_stream._ROLLUP_TIER_COLS)
            same(got, rollup_stream.rollup_measures(ev))

        return apply, check

    def apply(w, epoch):
        rollup_stream.upsert_sessions_batch(
            spark, rollup_stream.sessionize_events(ev.filter(F.col("wave") == w)),
            tier, epoch_id=epoch,
        )

    def check():
        got = spark.read.parquet(tier).select(*rollup_stream._SESSION_TIER_COLS)
        same(got, rollup_stream.sessionize_events(ev))

    return apply, check


@pytest.mark.parametrize("writer,crash_point", _CRASH_MATRIX)
def test_swap_commit_crash_windows_converge(
    spark, tmp_path, monkeypatch, writer, crash_point
):
    """Hypothesis over random event sets and micro-batch splits, with a
    crash injected into the second drain of every tier writer (the upsert
    cascade at each of its 1h, 1d and 1min commits, the events-partials
    drain, the sessions drain) at each window of the journaled commit:

    - ``backup``: crash mid-journal, after the first partition rename into
      _txn_backup — recovery must rename the backups home;
    - ``epoch``: crash between the tier write and the epoch record — THE
      window rounds 1-4 documented as open on the parquet path; the
      journaled swap closes it by rolling the write back;
    - ``horizon`` (sessions): crash between _record_session_horizon and
      the tier write of the FIRST drain, the one that records the horizon
      — a recorded horizon is an over-estimate, which only widens reads.

    After the crash, the same epoch is re-drained (what a checkpointed
    source does) and every tier must equal the one-shot batch answer over
    all events — no duplicate, no loss, every time. A further replay of
    the committed epoch must leave every file as it is."""
    import itertools
    import os

    from hypothesis import HealthCheck, assume, given, settings, strategies as st

    from aisdb_spark.streaming import fsio, txn

    base = dt.datetime(2025, 3, 1, 22, 0)  # 2h before a day boundary
    examples = itertools.count()
    _real_rename = fsio.rename
    _real_epoch = txn.record_epoch
    _real_horizon = rollup_stream._record_session_horizon
    target = {}  # the crashed tier's directory, per example

    def crash_after_first_rename(s, src, dst):
        out = _real_rename(s, src, dst)
        if dst.startswith(f"{target['dir']}/{txn.BACKUP}/"):
            raise RuntimeError("injected crash mid-backup")  # rename landed
        return out

    def crash_before_epoch(s, t, e):
        if t == target["dir"]:
            raise RuntimeError("injected crash before epoch record")
        return _real_epoch(s, t, e)

    def crash_after_horizon(s, t, d):
        _real_horizon(s, t, d)
        raise RuntimeError("injected crash after horizon record")

    inject = {
        "backup": (fsio, "rename", crash_after_first_rename),
        "epoch": (txn, "record_epoch", crash_before_epoch),
        "horizon": (rollup_stream, "_record_session_horizon", crash_after_horizon),
    }[crash_point]

    @settings(
        max_examples=3, deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        st.lists(  # (entity, 15-min slot, wave assignment)
            st.tuples(st.integers(0, 1), st.integers(0, 24), st.integers(0, 1)),
            min_size=2, max_size=10, unique=True,
        )
    )
    def run(evts):
        # both waves must carry events or the injected step never runs
        assume({w for _, _, w in evts} == {0, 1})
        if writer != "sessions":
            # the second wave must rewrite a day the first one wrote, or
            # there is no partition to back up (the sessions writer's read
            # window always covers both days)
            def days(w):
                return {
                    (base + dt.timedelta(minutes=15 * slot)).date()
                    for _, slot, wave in evts if wave == w
                }
            assume(days(0) & days(1))
        tmp = tmp_path / f"ex{next(examples)}"
        target["dir"] = str(tmp / _CRASH_DIR.get(writer, "tier"))
        apply, check = _crash_case(spark, writer, evts, base, tmp)
        # the first drain records the sessions horizon; every other point
        # needs a prior wave's partitions to back up and merge with
        crash_wave = 0 if crash_point == "horizon" else 1
        for wave in range(2):
            if wave == crash_wave:
                monkeypatch.setattr(*inject)
                try:
                    with pytest.raises(RuntimeError, match="injected crash"):
                        apply(wave, wave)
                finally:
                    monkeypatch.undo()
            # the checkpointed source replays the same epoch after restart
            apply(wave, wave)
        check()
        # journal and backups fully settled in every tier
        tiers = sorted(str(p) for p in tmp.iterdir())
        for tier in tiers:
            assert not os.path.exists(f"{tier}/{txn.JOURNAL}")
            assert not os.path.exists(f"{tier}/{txn.BACKUP}")

        # replaying the committed epoch again changes no file
        def files():
            return sorted(
                (f"{d}/{n}", os.stat(f"{d}/{n}").st_mtime_ns)
                for t in tiers for d, _, names in os.walk(t) for n in names
            )

        before = files()
        apply(1, 1)
        assert files() == before

    run()


def test_txn_recover_arbitrates_by_epoch(spark, tmp_path):
    """recover() decides by comparing the journal's epoch with the recorded
    one: epoch already recorded → the commit happened, cleanup only;
    not recorded → roll the write debris back to the journaled backups."""
    from aisdb_spark.streaming import fsio, txn

    tier = str(tmp_path / "tier")
    d = "2025-03-01"
    spark.range(3).selectExpr(
        "id", f"to_date('{d}') as bucket_date"
    ).write.partitionBy("bucket_date").parquet(tier)
    txn.record_epoch(spark, tier, 0)

    # uncommitted crash: journal epoch 1 > recorded 0; partition renamed to
    # backup, debris written in its place
    fsio.write_side_json_atomic(
        spark, tier, txn.JOURNAL, {"epoch": 1, "backed": [d], "cleared": [d]}
    )
    fsio.rename(
        spark, f"{tier}/bucket_date={d}", f"{tier}/{txn.BACKUP}/bucket_date={d}"
    )
    spark.range(99).selectExpr(
        "id", f"to_date('{d}') as bucket_date"
    ).write.mode("append").partitionBy("bucket_date").parquet(tier)
    assert txn.recover(spark, tier) is True  # rolled back
    assert spark.read.parquet(tier).count() == 3  # original restored
    assert txn.recover(spark, tier) is False  # idempotent: nothing left

    # committed crash: journal epoch == recorded epoch → cleanup only,
    # the (new) tier state is kept
    spark.range(7).selectExpr(
        "id", f"to_date('{d}') as bucket_date"
    ).write.mode("overwrite").partitionBy("bucket_date").parquet(tier)
    txn.record_epoch(spark, tier, 2)
    fsio.write_side_json_atomic(
        spark, tier, txn.JOURNAL, {"epoch": 2, "backed": [d], "cleared": [d]}
    )
    assert txn.recover(spark, tier) is False  # commit stood
    assert spark.read.parquet(tier).count() == 7


def test_cleanup_crash_and_orphan_backup_converge(spark, tmp_path):
    """Round-5 protocol hardening (review findings):

    (a) an orphaned ``_txn_backup`` with NO journal — the state a crash
        between the two cleanup deletes could strand under the pre-r5
        deletion order — is purged by recover(), so the next swap's
        backup rename cannot collide with stale garbage and silently
        restore a months-old pre-image;
    (b) a journal flagged ``state: committed`` (crash mid-cleanup) is
        arbitrated as finish-cleanup, never rollback — including for
        epoch_id=None, which previously had no committed signal at all.
    """
    from aisdb_spark.streaming import fsio, txn

    tier = str(tmp_path / "tier")
    d = "2025-03-01"
    df1 = spark.createDataFrame(
        [(1, dt.date(2025, 3, 1))], "id long, bucket_date date"
    )
    txn.swap_commit(spark, tier, df1, [d], epoch_id=0)

    # (a) orphan backup, no journal
    stale = spark.createDataFrame(
        [(99, dt.date(2025, 3, 1))], "id long, bucket_date date"
    )
    stale.write.parquet(f"{tier}/{txn.BACKUP}/bucket_date={d}")
    assert not txn.recover(spark, tier)
    assert not fsio.exists(spark, f"{tier}/{txn.BACKUP}")
    df2 = spark.createDataFrame(
        [(2, dt.date(2025, 3, 1))], "id long, bucket_date date"
    )
    txn.swap_commit(spark, tier, df2, [d], epoch_id=1)
    assert [r.id for r in spark.read.parquet(tier).collect()] == [2]

    # (b) committed journal left behind mid-cleanup (epoch_id=None path)
    fsio.write_side_json_atomic(
        spark, tier, txn.JOURNAL,
        {"epoch": None, "backed": [d], "cleared": [d],
         "files": {d: ["phantom.parquet"]}, "state": "committed"},
    )
    assert not txn.recover(spark, tier)  # no rollback
    assert fsio.read_side_json(spark, tier, txn.JOURNAL) is None
    assert [r.id for r in spark.read.parquet(tier).collect()] == [2]


def test_recover_restores_partial_backup_per_file(spark, tmp_path):
    """S3-style rename is copy+delete per file: a crash INSIDE the backup
    rename leaves the pre-image split between the partition and the
    backup. The journaled per-file manifest lets recover() reassemble the
    exact pre-image from both halves and drop new-write debris."""
    import os

    from aisdb_spark.streaming import fsio, txn

    tier = str(tmp_path / "tier")
    d = "2025-03-01"
    part = f"{tier}/bucket_date={d}"
    pre = spark.createDataFrame(
        [(i, dt.date(2025, 3, 1)) for i in range(30)],
        "id long, bucket_date date",
    )
    pre.repartition(3).write.partitionBy("bucket_date").parquet(tier)
    names = sorted(
        n for n in os.listdir(part) if n.endswith(".parquet")
    )
    assert len(names) == 3
    want = sorted(r.id for r in spark.read.parquet(tier).collect())

    # journal as swap_commit would, then simulate: one file moved to the
    # backup, one COPIED but not yet deleted (both halves), one never
    # moved; plus a new-write debris file in the slot
    fsio.write_side_json_atomic(
        spark, tier, txn.JOURNAL,
        {"epoch": 7, "backed": [d], "cleared": [d], "files": {d: names}},
    )
    bak = f"{tier}/{txn.BACKUP}/bucket_date={d}"
    os.makedirs(bak)
    os.rename(f"{part}/{names[0]}", f"{bak}/{names[0]}")   # moved
    import shutil

    shutil.copy(f"{part}/{names[1]}", f"{bak}/{names[1]}")  # copied, not deleted
    with open(f"{part}/part-debris.parquet", "wb") as f:
        f.write(b"not a real parquet footer")               # write debris

    assert txn.recover(spark, tier)  # uncommitted → rollback
    assert sorted(
        n for n in os.listdir(part) if n.endswith(".parquet")
    ) == names
    got = sorted(r.id for r in spark.read.parquet(tier).collect())
    assert got == want
    assert not os.path.exists(f"{tier}/{txn.BACKUP}")
    assert not os.path.exists(f"{tier}/{txn.JOURNAL}")


def test_epoch_survives_delete_rename_window_on_uri(spark, tmp_path):
    """URI branch of write_side_json_atomic is delete→rename (Hadoop
    rename refuses existing targets); a crash in between leaves only the
    completed .tmp. last_applied_epoch must read it — 'missing → -1'
    would re-apply a committed batch (double-counted rollups)."""
    import os

    from aisdb_spark.streaming import txn

    local = str(tmp_path / "tier")
    tier = f"file://{local}"
    txn.record_epoch(spark, tier, 41)
    txn.record_epoch(spark, tier, 42)
    assert txn.last_applied_epoch(spark, tier) == 42
    # simulate the crash window: final deleted, tmp (already complete)
    # still present — exactly the state between fs.delete and fs.rename
    os.rename(f"{local}/_epoch.json", f"{local}/_epoch.json.tmp")
    assert txn.last_applied_epoch(spark, tier) == 42
