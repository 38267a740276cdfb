"""Structured Streaming QC: file-source stream -> watermarked rollups
-> memory/parquet sinks, availableNow trigger."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    rng = np.random.default_rng(1)
    ts = pd.date_range("2024-03-01", periods=600, freq="5min")
    pdf = pd.DataFrame(
        {
            "station": "stn1",
            "variable": "o2",
            "ts": ts,
            "value": rng.normal(10, 1.5, len(ts)),
        }
    )
    # two files = two potential micro-batches; one 3h silence gap
    pdf1, pdf2 = pdf.iloc[:300], pdf.iloc[300:].copy()
    pdf2["ts"] = pdf2["ts"] + pd.Timedelta(hours=3)
    sdir = base / "in"
    sdir.mkdir()
    spark.createDataFrame(pdf1).coalesce(1).write.mode("append").parquet(str(sdir))
    spark.createDataFrame(pdf2).coalesce(1).write.mode("append").parquet(str(sdir))
    return str(sdir)


def test_tumbling_rollup_stream(spark, stream_dir):
    from wq_data_pipeline_spark.streaming.stream_qc import read_readings_stream, sliding_rollup

    stream = read_readings_stream(spark, stream_dir)
    assert stream.isStreaming
    q = (
        sliding_rollup(stream, "1 hour", "1 hour", "2 hours")
        .writeStream.format("memory")
        .queryName("rollup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from rollup_t").collect()
    # append mode only emits watermark-closed windows
    assert len(rows) >= 20
    assert all(r.n > 0 and r.min_value <= r.mean_value <= r.max_value for r in rows)


def test_sliding_rollup_stream(spark, stream_dir):
    from wq_data_pipeline_spark.streaming.stream_qc import read_readings_stream, sliding_rollup

    stream = read_readings_stream(spark, stream_dir)
    q = (
        sliding_rollup(stream, "1 hour", "30 minutes", "2 hours")
        .writeStream.format("memory")
        .queryName("rollup_sl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from rollup_sl").collect()
    # ~2x the tumbling window count (30-min slide on 1-h windows)
    assert len(rows) >= 40
    starts = sorted({r.window_start for r in rows})
    # consecutive starts 30 min apart -> overlapping coverage
    assert any((b - a).total_seconds() == 1800 for a, b in zip(starts, starts[1:]))
    assert all(r.min_value <= r.mean_value <= r.max_value for r in rows)


def test_session_rollup_stream(spark, stream_dir):
    from wq_data_pipeline_spark.streaming.stream_qc import read_readings_stream, session_rollup

    stream = read_readings_stream(spark, stream_dir)
    q = (
        session_rollup(stream, "30 minutes", "2 hours")
        .writeStream.format("memory")
        .queryName("rollup_s")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from rollup_s").collect()
    # the 3h silence closes the first session
    assert len(rows) >= 1
    assert rows[0].n == 300


def test_microbatch_qc(spark, stream_dir, tmp_path):
    from wq_data_pipeline_spark.streaming.stream_qc import read_readings_stream, run_microbatch_qc

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = read_readings_stream(spark, stream_dir)
    q = run_microbatch_qc(stream, out, ckpt)
    q.awaitTermination(180)
    res = spark.read.parquet(out)
    assert res.count() == 600
    assert "saqc_flag" in res.columns and "accepted" in res.columns


def test_watermark_drops_late_data(spark, tmp_path):
    """A row arriving hours behind the persisted watermark must be
    dropped. Two checkpointed runs make the ordering explicit: run 1
    advances the watermark to 05:00 and emits the hour-0 window; run 2
    (same checkpoint) sees only the late row and must drop it."""
    from wq_data_pipeline_spark.streaming.stream_qc import read_readings_stream, sliding_rollup

    sdir = tmp_path / "in"
    sdir.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    ts1 = pd.date_range("2024-08-01 00:00", periods=120, freq="1min")
    b1 = pd.DataFrame({"station": "s", "variable": "v", "ts": ts1, "value": 1.0})
    b2 = pd.DataFrame(
        {"station": ["s"], "variable": ["v"], "ts": [pd.Timestamp("2024-08-01 06:00")], "value": [5.0]}
    )
    spark.createDataFrame(pd.concat([b1, b2])).coalesce(1).write.mode("append").parquet(str(sdir))

    def run_once():
        q = (
            sliding_rollup(read_readings_stream(spark, str(sdir)), "1 hour", "1 hour", "1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once()  # watermark -> 05:00, hour-0 window emitted
    b3 = pd.DataFrame(
        {"station": ["s"], "variable": ["v"], "ts": [pd.Timestamp("2024-08-01 00:30:30")], "value": [1000.0]}
    )
    spark.createDataFrame(b3).coalesce(1).write.mode("append").parquet(str(sdir))
    run_once()  # late row: window end 01:00 < watermark 05:00 -> dropped

    all_rows = spark.read.parquet(out).collect()
    h0 = [r for r in all_rows if r.window_start == pd.Timestamp("2024-08-01 00:00")]
    assert len(h0) == 1, all_rows
    assert h0[0].max_value == 1.0 and h0[0].n == 60


def test_stateful_timeout_flushes_pending_run():
    """hasTimedOut branch: an idle key's pending run is emitted as an
    event (if long enough) and its state removed — no re-arm."""
    import pandas as pd

    from wq_data_pipeline_spark.streaming.stateful import _detect

    class FakeState:
        def __init__(self, tup):
            self.exists = tup is not None
            self.hasTimedOut = True
            self._tup = tup
            self.removed = False
            self.updated = None

        @property
        def get(self):
            return self._tup

        def remove(self):
            self.removed = True

        def update(self, tup):
            self.updated = tup

        def setTimeoutDuration(self, ms):
            self.updated = self.updated  # no-op; must NOT be re-armed

    # pending run long enough -> one event, state removed
    st = FakeState((1000, 5000, 6, 2.5))
    out = list(_detect(("s", "v"), iter([]), st, atol=1e-9, min_points=4))
    assert st.removed and st.updated is None
    assert len(out) == 1
    ev = out[0].iloc[0]
    assert (ev.start_ms, ev.end_ms, ev.n_points, ev.run_value) == (1000, 5000, 6, 2.5)

    # pending run too short -> no event, state still removed
    st2 = FakeState((1000, 2000, 2, 2.5))
    out2 = list(_detect(("s", "v"), iter([]), st2, atol=1e-9, min_points=4))
    assert st2.removed and out2 == []


def test_stream_dedup_exact(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate rows inside the
    watermark window are emitted once; state is watermark-bounded."""
    import pandas as pd

    from wq_data_pipeline_spark.streaming.stream_qc import (
        read_readings_stream,
        stream_dedup_exact,
    )

    sdir = tmp_path / "in"
    sdir.mkdir()
    ts = pd.date_range("2024-03-01", periods=50, freq="5min")
    pdf = pd.DataFrame(
        {"station": "s1", "variable": "o2", "ts": ts, "value": [float(i) for i in range(50)]}
    )
    dup = pd.concat([pdf, pdf.iloc[10:20]])  # 10 exact duplicates
    spark.createDataFrame(dup).coalesce(1).write.mode("append").parquet(str(sdir))
    q = (
        stream_dedup_exact(read_readings_stream(spark, str(sdir)))
        .writeStream.format("memory")
        .queryName("dedup_x")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from dedup_x").collect()
    assert len(rows) == 50
    assert len({(r.ts, r.value) for r in rows}) == 50


def test_stream_dedup_content(spark, tmp_path):
    """Content-digest dedup keeps one row per identical payload."""
    import pandas as pd

    from pyspark.sql import types as T

    from wq_data_pipeline_spark.streaming.stream_qc import stream_dedup_content

    sdir = tmp_path / "docs"
    sdir.mkdir()
    ts = pd.date_range("2024-03-01", periods=30, freq="1min")
    pdf = pd.DataFrame(
        {
            "doc_id": range(30),
            "ts": ts,
            "text": [f"document body {i % 10}" for i in range(30)],  # 10 distinct
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(str(sdir))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(str(sdir))
    q = (
        stream_dedup_content(stream)
        .writeStream.format("memory")
        .queryName("dedup_c")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from dedup_c").collect()
    assert len(rows) == 10
    assert len({r.text for r in rows}) == 10


def test_stream_interval_join(spark, tmp_path):
    """Stream-stream interval join: readings pair with maintenance
    events of the same station within the last 30 minutes."""
    import pandas as pd

    from pyspark.sql import types as T

    from wq_data_pipeline_spark.streaming.stream_qc import (
        read_readings_stream,
        stream_interval_join,
    )

    rdir, mdir = tmp_path / "read", tmp_path / "maint"
    rdir.mkdir(); mdir.mkdir()
    ts = pd.date_range("2024-03-01", periods=60, freq="5min")
    readings = pd.DataFrame(
        {"station": "s1", "variable": "o2", "ts": ts, "value": 1.0}
    )
    spark.createDataFrame(readings).coalesce(1).write.mode("append").parquet(str(rdir))
    maint = pd.DataFrame(
        {
            "station": ["s1", "s1", "s2"],
            "ts": pd.to_datetime(
                ["2024-03-01 01:00", "2024-03-01 03:00", "2024-03-01 01:00"]
            ),
            "action": ["calibrate", "clean", "calibrate"],
        }
    )
    spark.createDataFrame(maint).coalesce(1).write.mode("append").parquet(str(mdir))
    mschema = T.StructType(
        [
            T.StructField("station", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("action", T.StringType()),
        ]
    )
    mstream = spark.readStream.schema(mschema).parquet(str(mdir))
    joined = stream_interval_join(
        read_readings_stream(spark, str(rdir)), mstream, within="30 minutes"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ij")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from ij").collect()
    # each s1 maintenance event covers 7 readings (its minute + 30 min after)
    assert len(rows) == 14, [(r.ts, r.r_ts) for r in rows]
    assert all(r.station == "s1" for r in rows)
    assert all(r.r_ts <= r.ts <= r.r_ts + pd.Timedelta(minutes=30) for r in rows)


def test_streaming_robust_z_across_batches(spark, tmp_path, drain_stateful):
    """Stateful streaming robust-z: the spike in the SECOND micro-batch
    is scored against the buffer accumulated in the FIRST (state
    carries across batches); baseline rows are not flagged."""
    import numpy as np
    import pandas as pd

    from wq_data_pipeline_spark.streaming.stateful import streaming_robust_z
    from wq_data_pipeline_spark.streaming.stream_qc import read_readings_stream

    sdir = tmp_path / "in"
    sdir.mkdir()
    rng = np.random.default_rng(2)
    ts1 = pd.date_range("2024-03-01", periods=60, freq="5min")
    b1 = pd.DataFrame(
        {"station": "s1", "variable": "o2", "ts": ts1,
         "value": rng.normal(10, 0.3, 60)}
    )
    ts2 = pd.date_range(ts1[-1] + pd.Timedelta(minutes=5), periods=10, freq="5min")
    v2 = rng.normal(10, 0.3, 10)
    v2[4] = 50.0  # spike scored against batch-1 history
    b2 = pd.DataFrame({"station": "s1", "variable": "o2", "ts": ts2, "value": v2})
    spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(str(sdir))
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(str(sdir))

    stream = read_readings_stream(spark, str(sdir), max_files_per_trigger=1)
    q = (
        streaming_robust_z(stream, window_points=48, thresh=6.0, min_points=16)
        .writeStream.format("memory")
        .queryName("zstream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # applyInPandasWithState queries do not self-terminate under
    # availableNow (the state-timeout loop keeps the query active), so
    # awaitTermination would burn its whole timeout; poll the sink for
    # the expected row count and stop explicitly.
    drain_stateful(q, "zstream", target_rows=70)
    rows = spark.sql("select * from zstream order by ts_ms").collect()
    assert len(rows) == 70
    spikes = [r for r in rows if r.is_spike]
    assert len(spikes) == 1 and abs(spikes[0].value - 50.0) < 1e-9
    # early rows (< min_points of history) carry NULL z
    assert all(r.robust_z is None for r in rows[:15])


def test_streaming_latest_snapshot_across_batches(spark, tmp_path, drain_stateful):
    """Stateful CDC snapshot: batch 2 carries one OLDER row (must not
    displace the held version) and one newer row (must); n_versions
    counts every version seen. The final emission per key equals the
    batch latest_snapshot semantics over the union of both batches."""
    import pandas as pd

    from wq_data_pipeline_spark.streaming.stateful import streaming_latest_snapshot

    sdir = tmp_path / "in"
    sdir.mkdir()
    b1 = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": pd.to_datetime(
                ["2024-03-01 10:00", "2024-03-01 11:00", "2024-03-01 09:00"]
            ),
            "user_id": [7, 7, 8],
            "event_type": ["click", "click", "view"],
            "value": [1.0, 2.0, 3.0],
        }
    )
    b2 = pd.DataFrame(
        {
            "event_id": [4, 5],
            "ts": pd.to_datetime(["2024-03-01 08:00", "2024-03-01 12:00"]),
            "user_id": [7, 8],
            "event_type": ["click", "view"],
            "value": [9.0, 4.0],
        }
    )
    spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(str(sdir))
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(str(sdir))

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(sdir))
    )
    q = (
        streaming_latest_snapshot(stream)
        .writeStream.format("memory")
        .queryName("snapstream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    drain_stateful(q, "snapstream", target_rows=4)
    rows = spark.sql("select * from snapstream").collect()
    # update-mode memory sink: take the max-n_versions emission per key
    final = {}
    for r in rows:
        k = (r.user_id, r.event_type)
        if k not in final or r.n_versions > final[k].n_versions:
            final[k] = r
    click = final[(7, "click")]
    # the 08:00 row in batch 2 must NOT displace the held 11:00 row
    assert click.event_id == 2 and click.value == 2.0 and click.n_versions == 3
    view = final[(8, "view")]
    assert view.event_id == 5 and view.value == 4.0 and view.n_versions == 2


def test_streaming_upsert_with_deletes_across_batches(spark, tmp_path, drain_stateful):
    """Tombstone-aware streaming MoR (r9): a delete marker wins the
    (ts, event_id) fold and flips the key to is_deleted; an
    out-of-order OLDER upsert arriving after the tombstone must NOT
    resurrect the key; an out-of-order NEWER upsert must."""
    import pandas as pd

    from wq_data_pipeline_spark.streaming.stateful import (
        streaming_upsert_with_deletes,
    )

    sdir = tmp_path / "in"
    sdir.mkdir()
    b1 = pd.DataFrame(
        {
            "event_id": [1, 10, 3],
            "ts": pd.to_datetime(
                ["2024-03-01 10:00", "2024-03-01 12:00", "2024-03-01 09:00"]
            ),
            "user_id": [7, 7, 8],
            "event_type": ["click", "click", "view"],
            "value": [1.0, 0.0, 3.0],
            "op": ["U", "D", "U"],  # key (7,click) tombstoned at 12:00
        }
    )
    b2 = pd.DataFrame(
        {
            "event_id": [4, 5],
            "ts": pd.to_datetime(["2024-03-01 11:00", "2024-03-01 13:00"]),
            "user_id": [7, 8],
            "event_type": ["click", "view"],
            "value": [9.0, 4.0],
            "op": ["U", "U"],
        }
    )
    spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(str(sdir))
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(str(sdir))

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, op string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(sdir))
    )
    q = (
        streaming_upsert_with_deletes(stream)
        .writeStream.format("memory")
        .queryName("morstream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    drain_stateful(q, "morstream", target_rows=4)
    rows = spark.sql("select * from morstream").collect()
    final = {}
    for r in rows:
        k = (r.user_id, r.event_type)
        if k not in final or r.n_changes > final[k].n_changes:
            final[k] = r
    click = final[(7, "click")]
    # the 11:00 upsert in batch 2 is OLDER than the 12:00 tombstone:
    # the key stays deleted
    assert click.is_deleted and click.value is None and click.event_id == 10
    assert click.n_changes == 3
    view = final[(8, "view")]
    # the 13:00 upsert is newer: the key resolves live
    assert not view.is_deleted and view.value == 4.0 and view.event_id == 5
    assert view.n_changes == 2
