"""Custom stateful streaming operator: low-latency flat-run detection
with ``applyInPandasWithState`` (SURVEY.md §2.8 — the
`flatMapGroupsWithState`-style path for run detectors that need
ordered history across micro-batches).

State per (station, variable): the tail of the current candidate run
(last value, run start/points). Events are emitted the moment a run
BREAKS — no waiting for a window to close — which is what the batch
islands formulation cannot do incrementally.

Caveat (documented, inherent to low-latency streaming): rows are
processed in (micro-batch, ts) order; late rows older than the state's
last ts would need a watermark+buffer layer to reorder — out of scope
for this operator, which assumes per-key in-order arrival within each
batch (file/kafka partition-ordered sources satisfy this for
single-writer sensors).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUN_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("station", T.StringType()),
        T.StructField("variable", T.StringType()),
        T.StructField("start_ms", T.LongType()),
        T.StructField("end_ms", T.LongType()),
        T.StructField("n_points", T.LongType()),
        T.StructField("run_value", T.DoubleType()),
    ]
)

# state: (run_start_ms, last_ms, n_points, run_value)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("run_start_ms", T.LongType()),
        T.StructField("last_ms", T.LongType()),
        T.StructField("n_points", T.LongType()),
        T.StructField("run_value", T.DoubleType()),
    ]
)


def _detect(
    key: Any,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    atol: float,
    min_points: int,
) -> Iterator[pd.DataFrame]:
    station, variable = key
    if state.exists:
        run_start, last_ms, n_points, run_value = state.get
    else:
        run_start = last_ms = None
        n_points = 0
        run_value = None

    if state.hasTimedOut:
        # idle key: flush the pending run as an event (if long enough)
        # and drop the state — no new data arrived within the timeout,
        # so the candidate run can never be extended.
        if n_points >= min_points and run_value is not None:
            yield pd.DataFrame(
                [(station, variable, run_start, last_ms, n_points, run_value)],
                columns=["station", "variable", "start_ms", "end_ms", "n_points", "run_value"],
            )
        state.remove()
        return

    events = []
    for pdf in pdfs:
        pdf = pdf.sort_values("ts")
        for ts, value in zip(pdf["ts"], pdf["value"]):
            ms = int(pd.Timestamp(ts).value // 1_000_000)
            if value is not None and run_value is not None and abs(value - run_value) <= atol:
                n_points += 1
                last_ms = ms
            else:
                if n_points >= min_points:
                    events.append((station, variable, run_start, last_ms, n_points, run_value))
                run_start = last_ms = ms
                n_points = 1
                run_value = float(value) if value is not None else None

    if run_value is None:
        state.remove()
    else:
        state.update((run_start, last_ms, n_points, run_value))
        state.setTimeoutDuration(3_600_000)  # flush stale keys after 1h

    if events:
        yield pd.DataFrame(
            events,
            columns=["station", "variable", "start_ms", "end_ms", "n_points", "run_value"],
        )


def streaming_flat_runs(
    stream: DataFrame, atol: float = 1e-9, min_points: int = 4
) -> DataFrame:
    """Emit flat-run events incrementally as runs break, carrying run
    state across micro-batches."""

    def fn(key, pdfs, state):
        return _detect(key, pdfs, state, atol, min_points)

    return stream.groupBy("station", "variable").applyInPandasWithState(
        fn,
        outputStructType=RUN_EVENT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


# --------------------------------------------------------------- robust-z
Z_OUT_SCHEMA = T.StructType(
    [
        T.StructField("station", T.StringType()),
        T.StructField("variable", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("robust_z", T.DoubleType()),
        T.StructField("is_spike", T.BooleanType()),
    ]
)

Z_STATE_SCHEMA = T.StructType(
    [T.StructField("values", T.ArrayType(T.DoubleType()))]
)


def _zdetect(
    key: Any,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    window_points: int,
    thresh: float,
    min_points: int,
) -> Iterator[pd.DataFrame]:
    import numpy as np

    station, variable = key
    if state.hasTimedOut:
        state.remove()
        return
    buf: list[float] = list(state.get[0]) if state.exists else []
    rows = []
    for pdf in pdfs:
        pdf = pdf.sort_values("ts")
        for ts, value in zip(pdf["ts"], pdf["value"]):
            ms = int(pd.Timestamp(ts).value // 1_000_000)
            z = None
            spike = False
            v = None if value is None or pd.isna(value) else float(value)
            if v is not None:
                buf.append(v)
                if len(buf) > window_points:
                    del buf[: len(buf) - window_points]
                if len(buf) >= min_points:
                    arr = np.asarray(buf)
                    med = float(np.median(arr))
                    mad = float(np.median(np.abs(arr - med)))
                    if mad > 0:
                        z = 0.6745 * (v - med) / mad
                        spike = abs(z) >= thresh
            rows.append((station, variable, ms, v, z, spike))
    if buf:
        state.update((buf,))
        state.setTimeoutDuration(3_600_000)
    else:
        state.remove()
    if rows:
        yield pd.DataFrame(
            rows,
            columns=["station", "variable", "ts_ms", "value", "robust_z", "is_spike"],
        )


def streaming_robust_z(
    stream: DataFrame,
    window_points: int = 96,
    thresh: float = 4.0,
    min_points: int = 32,
) -> DataFrame:
    """Low-latency rolling robust-z (the streaming W8/W11 analog):
    per-key buffer of the last ``window_points`` values carried across
    micro-batches in group state — each arriving row is scored
    immediately against the TRAILING window's median/MAD (a stream
    cannot see the future, so this is the causal variant of the batch
    CENTERED robust-z; thresholds are comparable, frames are not
    identical). State is bounded at window_points doubles per key;
    idle keys are dropped after 1h."""

    def fn(key, pdfs, state):
        return _zdetect(key, pdfs, state, window_points, thresh, min_points)

    return stream.groupBy("station", "variable").applyInPandasWithState(
        fn,
        outputStructType=Z_OUT_SCHEMA,
        stateStructType=Z_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


SNAP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("n_versions", T.LongType()),
    ]
)

# state: the current latest version + how many versions were seen
SNAP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ts_us", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("n_versions", T.LongType()),
    ]
)


def _snap(key, pdfs, state):
    """Fold each micro-batch's rows for this key into the (ts_us,
    event_id)-max version held in state; emit the refreshed snapshot
    row once per batch the key appears in."""
    user_id, event_type = key
    if state.exists:
        ts_us, eid, val, n = state.get
    else:
        ts_us, eid, val, n = -1, -1, None, 0
    for pdf in pdfs:
        if not len(pdf):
            continue
        n += len(pdf)
        us = (pdf["ts"].astype("int64") // 1000).to_numpy()
        ids = pdf["event_id"].to_numpy()
        # lexicographic argmax over (ts, event_id) — the CDC tie rule
        best = max(range(len(pdf)), key=lambda i: (us[i], ids[i]))
        if (int(us[best]), int(ids[best])) > (ts_us, eid):
            ts_us, eid = int(us[best]), int(ids[best])
            v = pdf["value"].iloc[best]
            val = None if pd.isna(v) else float(v)
    state.update((ts_us, eid, val, n))
    yield pd.DataFrame(
        [[user_id, event_type, ts_us, eid, val, n]],
        columns=["user_id", "event_type", "ts_us", "event_id", "value", "n_versions"],
    )


def streaming_latest_snapshot(stream: DataFrame) -> DataFrame:
    """Streaming CDC latest-snapshot (the incremental form of the
    batch ``latest_snapshot`` catalog entry): per (user_id,
    event_type) the state holds only the current winning version —
    O(1) state per key, unbounded retention (a snapshot view never
    expires; use a timeout variant for keys that may churn forever).
    Each micro-batch emits the refreshed snapshot for the keys it
    touched (update semantics — downstream sinks upsert on the key;
    ``n_versions`` is monotone, so consumers can also pick the max).

    The input stream is events-shaped: (event_id, ts, user_id,
    event_type, value). Micro-batch arrival order does not matter —
    the fold is a max over (ts, event_id), which is order-free, so
    unlike the run detectors this operator is exactly correct under
    ANY arrival order per key."""

    def fn(key, pdfs, state):
        return _snap(key, pdfs, state)

    return stream.groupBy("user_id", "event_type").applyInPandasWithState(
        fn,
        outputStructType=SNAP_OUT_SCHEMA,
        stateStructType=SNAP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


MOR_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("is_deleted", T.BooleanType()),
        T.StructField("n_changes", T.LongType()),
    ]
)

# state: current winning version + its tombstone flag + change count
MOR_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ts_us", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("is_deleted", T.BooleanType()),
        T.StructField("n_changes", T.LongType()),
    ]
)


def _mor(key, pdfs, state):
    """Tombstone-aware fold: max over (ts_us, event_id) across state
    and batch rows; a winning delete marker flips the key to
    is_deleted instead of dropping state (the tombstone must be
    retained so a LATER-sequenced upsert can still lose to it under
    out-of-order arrival)."""
    user_id, event_type = key
    if state.exists:
        ts_us, eid, val, dead, n = state.get
    else:
        ts_us, eid, val, dead, n = -1, -1, None, False, 0
    for pdf in pdfs:
        if not len(pdf):
            continue
        n += len(pdf)
        us = (pdf["ts"].astype("int64") // 1000).to_numpy()
        ids = pdf["event_id"].to_numpy()
        best = max(range(len(pdf)), key=lambda i: (us[i], ids[i]))
        if (int(us[best]), int(ids[best])) > (ts_us, eid):
            ts_us, eid = int(us[best]), int(ids[best])
            dead = str(pdf["op"].iloc[best]) == "D"
            if dead:
                val = None
            else:
                v = pdf["value"].iloc[best]
                val = None if pd.isna(v) else float(v)
    state.update((ts_us, eid, val, bool(dead), n))
    yield pd.DataFrame(
        [[user_id, event_type, ts_us, eid, val, bool(dead), n]],
        columns=[
            "user_id", "event_type", "ts_us", "event_id",
            "value", "is_deleted", "n_changes",
        ],
    )


def streaming_upsert_with_deletes(stream: DataFrame) -> DataFrame:
    """Streaming merge-on-read resolution with tombstones — the
    incremental twin of the batch ``cdc_merge_on_read`` catalog entry
    (plans/lakehouse.py): per (user_id, event_type) the state holds
    the current winning version INCLUDING delete markers, O(1) per
    key. Each micro-batch emits the refreshed row for touched keys
    with ``is_deleted`` — downstream sinks upsert on the key and drop
    rows whose latest state is a tombstone; the tombstone itself
    stays in state so an out-of-order earlier-sequenced upsert can
    never resurrect the key (same order-free (ts, event_id)-max fold
    as ``streaming_latest_snapshot``, so arrival order per key does
    not matter).

    Input is change-records-shaped: (event_id, ts, user_id,
    event_type, value, op) with op in {'U', 'D'}."""

    def fn(key, pdfs, state):
        return _mor(key, pdfs, state)

    return stream.groupBy("user_id", "event_type").applyInPandasWithState(
        fn,
        outputStructType=MOR_OUT_SCHEMA,
        stateStructType=MOR_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
