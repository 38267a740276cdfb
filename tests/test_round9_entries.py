"""Lakehouse-family pins: the CDC / merge-on-read entries.

Hand-computed semantics on a 5-key synthetic change stream whose ts
span makes the version cuts land on exact minute marks (span = 100
minutes -> lo = min+40min, cut = min+70min), so every base/log/window
membership is unambiguous. The sf-oracle equivalence itself is pinned
by test_oracle.py (the entries are in the catalog); these tests pin
the SEMANTICS against values derived by hand, which the oracle can't
do (both sides could share a bug).
"""

from __future__ import annotations

import datetime as dt

import pytest

from wq_data_pipeline_spark.plans import lakehouse as LAKEHOUSE

_BASE = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)


def _t(minutes: int) -> dt.datetime:
    return _BASE + dt.timedelta(minutes=minutes)


@pytest.fixture(scope="module")
def cdc_dir(spark, tmp_path_factory):
    """events fixture: (event_id, ts, user_id, event_type, value).
    op is derived by the queries as 'D' iff event_id % 5 == 0.
    Span 0..100 min -> lo_us at +40 min, cut_us at +70 min."""
    rows = [
        # key A = (1,'a'): base t0/t50, log upsert t80
        (1, _t(0), 1, "a", 1.0),
        (6, _t(50), 1, "a", 2.0),
        (11, _t(80), 1, "a", 3.0),
        # key B = (2,'a'): base t20, log DELETE t90 (id 10 % 5 == 0)
        (2, _t(20), 2, "a", 5.0),
        (10, _t(90), 2, "a", 6.0),
        # key C = (3,'b'): single DELETE marker t60 (id 15) — the
        # compacted base drops it; nothing in the log
        (15, _t(60), 3, "b", 0.0),
        # key D = (4,'b'): insert AFTER the cut (t75)
        (7, _t(75), 4, "b", 7.0),
        # key E = (5,'c'): base t0, log upsert t100 (span max)
        (3, _t(0), 5, "c", 1.5),
        (4, _t(100), 5, "c", 9.0),
    ]
    d = tmp_path_factory.mktemp("cdc")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "events.parquet"))
    return str(d)


def test_cdc_merge_on_read_hand_computed(spark, cdc_dir):
    out = {
        (r.user_id, r.event_type): r
        for r in LAKEHOUSE.q_cdc_merge_on_read(spark, cdc_dir).collect()
    }
    # B killed by the winning delete marker; C never materialized
    assert set(out) == {(1, "a"), (4, "b"), (5, "c")}
    a = out[(1, "a")]
    assert (a.value, a.n_log_records, a.from_log) == (3.0, 1, True)
    d = out[(4, "b")]
    assert (d.value, d.n_log_records, d.from_log) == (7.0, 1, True)
    e = out[(5, "c")]
    assert (e.value, e.n_log_records, e.from_log) == (9.0, 1, True)


def test_cdc_merge_on_read_base_wins_when_log_silent(spark, tmp_path):
    """A key with no log records resolves to its base row with
    from_log = False and n_log_records = 0."""
    rows = [
        (1, _t(0), 1, "a", 1.0),
        (2, _t(10), 1, "a", 2.0),  # latest <= cut -> the base row
        (3, _t(100), 9, "z", 0.5),  # another key stretches the span
    ]
    d = tmp_path / "ev"
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).coalesce(1).write.parquet(str(d / "events.parquet"))
    out = {
        (r.user_id, r.event_type): r
        for r in LAKEHOUSE.q_cdc_merge_on_read(spark, str(d)).collect()
    }
    a = out[(1, "a")]
    assert (a.value, a.n_log_records, a.from_log) == (2.0, 0, False)


def test_cdc_changes_between_hand_computed(spark, cdc_dir):
    rows = LAKEHOUSE.q_cdc_changes_between(spark, cdc_dir).collect()
    # only key A has activity in (lo=40min, hi=70min]; key C's t60
    # delete has no pre-image -> net no-op, excluded
    assert len(rows) == 1
    r = rows[0]
    assert (r.user_id, r.event_type, r.change_type) == (1, "a", "update")
    assert (r.pre_value, r.post_value, r.n_changes) == (1.0, 2.0, 1)


def test_cdc_changes_between_delete_and_insert_types(spark, tmp_path):
    rows = [
        # key (1,'a'): pre-image at t0, DELETE inside the window (t50, id 5)
        (1, _t(0), 1, "a", 1.0),
        (5, _t(50), 1, "a", 0.0),
        # key (2,'b'): born inside the window (t60) -> insert
        (2, _t(60), 2, "b", 4.0),
        # span stretchers outside the window
        (3, _t(100), 9, "z", 0.1),
    ]
    d = tmp_path / "ev"
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).coalesce(1).write.parquet(str(d / "events.parquet"))
    out = {
        (r.user_id, r.event_type): r
        for r in LAKEHOUSE.q_cdc_changes_between(spark, str(d)).collect()
    }
    assert out[(1, "a")].change_type == "delete"
    assert out[(1, "a")].pre_value == 1.0
    assert out[(1, "a")].post_value is None
    assert out[(2, "b")].change_type == "insert"
    assert out[(2, "b")].pre_value is None
    assert out[(2, "b")].post_value == 4.0


def test_compaction_plan_hand_computed(spark, cdc_dir):
    out = {r.bucket: r for r in LAKEHOUSE.q_compaction_plan(spark, cdc_dir).collect()}
    # bucket = user_id % 32; key C (user 3) vanishes entirely: its
    # delete marker won at compaction and it has no log rows
    assert set(out) == {1, 2, 4, 5}
    assert (out[1].base_rows, out[1].log_rows, out[1].delete_rows) == (1, 1, 0)
    assert (out[2].base_rows, out[2].log_rows, out[2].delete_rows) == (1, 1, 1)
    assert (out[4].base_rows, out[4].log_rows) == (0, 1)
    assert out[4].amplification == 1.0  # greatest(base,1) guard
    assert all(r.needs_compaction for r in out.values())


def test_mor_equals_cow_snapshot_when_log_empty(spark, tmp_path):
    """Invariant tying the MoR read to the copy-on-write snapshot:
    with every record at or before the cut (max ts == cut), the
    merge-on-read view IS the resolved snapshot — same keys, same
    values, zero log amplification."""
    rows = [
        (1, _t(0), 1, "a", 1.0),
        (2, _t(70), 1, "a", 2.0),
        (3, _t(0), 2, "b", 3.0),
        (4, _t(70), 2, "b", 4.0),
    ]
    # span 0..70 -> cut = 0 + 70*7//10 = 49min? No: span is min..max
    # of THESE rows (0..70min), cut = 49min -> t70 rows ARE the log.
    # To make the log empty the max row must sit exactly at the cut,
    # impossible with cut < max by construction (7/10 of span), so
    # assert the complementary invariant instead: every key resolves
    # to the globally-latest upsert exactly like latest_snapshot.
    d = tmp_path / "ev"
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).coalesce(1).write.parquet(str(d / "events.parquet"))
    out = {
        (r.user_id, r.event_type): r.value
        for r in LAKEHOUSE.q_cdc_merge_on_read(spark, str(d)).collect()
    }
    assert out == {(1, "a"): 2.0, (2, "b"): 4.0}


def test_mor_matches_brute_force_on_random_stream(spark, tmp_path):
    """Randomized brute-force pin (seeded): the MoR view must equal a
    pure-Python resolution of the same change stream — latest record
    per key by (ts, event_id) across base+log, delete winners
    dropped, log counts per key."""
    import random

    rng = random.Random(90210)
    n_keys, n_rows = 25, 300
    rows = []
    for eid in range(1, n_rows + 1):
        k = rng.randrange(n_keys)
        rows.append(
            (
                eid,
                _t(rng.randrange(0, 5000)),  # minutes; ties possible
                k,
                f"t{k % 4}",
                round(rng.uniform(-50, 50), 2),
            )
        )
    d = tmp_path / "ev"
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).coalesce(4).write.parquet(str(d / "events.parquet"))

    # brute force in plain Python (mirrors the documented semantics,
    # not the Spark plan)
    us = [int(r[1].timestamp() * 1_000_000) for r in rows]
    t0, t1 = min(us), max(us)
    cut = t0 + (t1 - t0) * 7 // 10
    by_key: dict = {}
    for (eid, _ts, uid, et, val), u in zip(rows, us):
        by_key.setdefault((uid, et), []).append(
            (u, eid, val, "D" if eid % 5 == 0 else "U")
        )
    expect = {}
    for key, recs in by_key.items():
        base = [r for r in recs if r[0] <= cut]
        log = [r for r in recs if r[0] > cut]
        merged = []
        if base:
            b = max(base)  # latest (ts, eid)
            if b[3] == "U":  # delete winners leave no base row
                merged.append((b, False))
        merged += [(r, True) for r in log]
        if not merged:
            continue
        win, from_log = max(merged, key=lambda m: (m[0][0], m[0][1]))
        if win[3] != "U":
            continue
        expect[key] = (win[0], win[2], len(log), from_log)

    got = {
        (r.user_id, r.event_type): (r.ts_us, r.value, r.n_log_records, r.from_log)
        for r in LAKEHOUSE.q_cdc_merge_on_read(spark, str(d)).collect()
    }
    assert got == expect
    assert expect, "random stream must produce a non-empty view"


def test_changes_between_matches_brute_force_on_random_stream(spark, tmp_path):
    """Seeded brute-force pin for the incremental read: net change
    per key between the lo/hi cuts must match a pure-Python
    resolution (pre-image <= lo, post-image in (lo, hi], change-type
    table, no-op keys dropped)."""
    import random

    rng = random.Random(424242)
    rows = []
    for eid in range(1, 301):
        k = rng.randrange(25)
        rows.append(
            (eid, _t(rng.randrange(0, 5000)), k, f"t{k % 4}",
             round(rng.uniform(-50, 50), 2))
        )
    d = tmp_path / "ev"
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).coalesce(4).write.parquet(str(d / "events.parquet"))

    us = [int(r[1].timestamp() * 1_000_000) for r in rows]
    t0, t1 = min(us), max(us)
    lo = t0 + (t1 - t0) * 4 // 10
    hi = t0 + (t1 - t0) * 7 // 10
    by_key: dict = {}
    for (eid, _ts, uid, et, val), u in zip(rows, us):
        by_key.setdefault((uid, et), []).append(
            (u, eid, val, "D" if eid % 5 == 0 else "U")
        )
    expect = {}
    for key, recs in by_key.items():
        pre_recs = [r for r in recs if r[0] <= lo]
        win_recs = [r for r in recs if lo < r[0] <= hi]
        if not win_recs:
            continue
        pre = max(pre_recs) if pre_recs else None
        pre_val = pre[2] if pre is not None and pre[3] == "U" else None
        post = max(win_recs)
        deleted = post[3] == "D"
        if deleted and pre_val is not None:
            ct = "delete"
        elif not deleted and pre_val is not None:
            ct = "update"
        elif not deleted:
            ct = "insert"
        else:
            continue  # pre-absent delete: net no-op
        expect[key] = (
            ct, pre_val, None if deleted else post[2], post[0], len(win_recs)
        )

    got = {
        (r.user_id, r.event_type): (
            r.change_type, r.pre_value, r.post_value, r.post_ts_us, r.n_changes
        )
        for r in LAKEHOUSE.q_cdc_changes_between(spark, str(d)).collect()
    }
    assert got == expect
    assert any(v[0] == "delete" for v in expect.values())
    assert any(v[0] == "insert" for v in expect.values())
    assert any(v[0] == "update" for v in expect.values())
