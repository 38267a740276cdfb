"""Streaming state-store scale test (VERDICT r8 #7): under sustained
input, watermark-bounded stateful operators must hold state
proportional to the WATERMARK WINDOW, not to total input — the
property that keeps a 100-TB/day stream from growing an unbounded
state store. Verified from the engine's own progress metrics
(stateOperators[].numRowsTotal), per microbatch, not just at the end.
"""

from __future__ import annotations

import pandas as pd
import pytest

# slow tier (pytest.ini): run with -m slow
pytestmark = pytest.mark.slow


def _run_per_file_batches(spark, df_builder, sdir, n_files, out_name):
    """Write n_files sequential parquet files, then run the stream
    one file per microbatch (maxFilesPerTrigger=1) so each file's
    event-time span advances the watermark batch over batch."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("station", T.StringType()),
            T.StructField("variable", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(sdir))
    )
    q = (
        df_builder(stream)
        .writeStream.format("memory")
        .queryName(out_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return q


@pytest.mark.parametrize("rows_per_file,n_files", [(120, 12)])
def test_dedup_state_bounded_by_watermark(spark, tmp_path, rows_per_file, n_files):
    """dropDuplicatesWithinWatermark('2 hours') over 24 hours of
    1-minute readings, one 2-hour file per microbatch: the state
    store may hold roughly the rows inside the watermark horizon
    (plus the not-yet-evicted current batch — eviction runs on the
    NEXT batch's advanced watermark), never the whole 1440-row
    input. A linear-state regression (e.g. a lost watermark) would
    blow straight past the ceiling."""
    sdir = tmp_path / "in"
    sdir.mkdir()
    total = 0
    for i in range(n_files):
        ts = pd.date_range(
            pd.Timestamp("2024-03-01") + pd.Timedelta(hours=2 * i),
            periods=rows_per_file,
            freq="1min",
        )
        pdf = pd.DataFrame(
            {
                "station": "s1",
                "variable": "o2",
                "ts": ts,
                "value": [float(i * rows_per_file + j) for j in range(rows_per_file)],
            }
        )
        # one file per batch: coalesce(1) + append in ts order
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(
            str(sdir)
        )
        total += rows_per_file

    from wq_data_pipeline_spark.streaming.stream_qc import stream_dedup_exact

    q = _run_per_file_batches(
        spark, stream_dedup_exact, sdir, n_files, "state_scale_dedup"
    )

    # correctness: nothing was dropped (no duplicates in the feed)
    assert spark.sql("select count(*) c from state_scale_dedup").head().c == total

    progresses = [p for p in q.recentProgress if p["stateOperators"]]
    assert len(progresses) >= n_files - 1, "expected one microbatch per file"
    state_rows = [p["stateOperators"][0]["numRowsTotal"] for p in progresses]
    # watermark horizon = 2h = 120 rows; eviction lags one batch, so
    # the steady-state ceiling is ~2 batches of rows + slack — far
    # below the 1440-row input a stateless-watermark bug would reach
    ceiling = 3 * rows_per_file
    assert max(state_rows) <= ceiling, (state_rows, ceiling)
    # and the tail is in steady state, not still growing: the last
    # batches hold no more state than the early-steady ones
    assert state_rows[-1] <= ceiling
    assert state_rows[-1] < total / 2


def test_tumbling_agg_state_bounded_by_watermark(spark, tmp_path):
    """Windowed aggregation state: closed 15-min windows are evicted
    once the 30-min watermark passes them, so live state stays at a
    handful of open windows per key — not one row per window ever
    seen (96 windows/day/key here)."""
    sdir = tmp_path / "in"
    sdir.mkdir()
    n_files, rows_per_file = 12, 120
    for i in range(n_files):
        ts = pd.date_range(
            pd.Timestamp("2024-03-01") + pd.Timedelta(hours=2 * i),
            periods=rows_per_file,
            freq="1min",
        )
        pdf = pd.DataFrame(
            {"station": "s1", "variable": "o2", "ts": ts, "value": 1.0}
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(
            str(sdir)
        )

    from wq_data_pipeline_spark.streaming.stream_qc import sliding_rollup

    q = _run_per_file_batches(
        spark,
        lambda s: sliding_rollup(
            s, window="15 minutes", slide="15 minutes", watermark="30 minutes"
        ),
        sdir,
        n_files,
        "state_scale_tumble",
    )
    total_windows = n_files * 8  # 2h per file / 15min
    emitted = spark.sql("select count(*) c from state_scale_tumble").head().c
    assert emitted >= total_windows - 8  # last file's windows may stay open
    progresses = [p for p in q.recentProgress if p["stateOperators"]]
    state_rows = [p["stateOperators"][0]["numRowsTotal"] for p in progresses]
    # open state per batch: ~8 current windows + <=2 straddling the
    # 30-min watermark lag + one-batch eviction lag (8 more)
    assert max(state_rows) <= 24, state_rows
    assert state_rows[-1] <= 24


def test_flat_runs_state_bounded_by_key_population(spark, tmp_path):
    """applyInPandasWithState flat-run detection (the r12 throughput
    anchor's invariant, tools/streaming_rate.py): state is ONE row per
    active key by construction — numRowsTotal must track the key
    population, never the input volume. 16 keys x 12 batches x 120
    rows: the ceiling stays 16 while input grows 12x.

    applyInPandasWithState queries do not self-terminate under
    availableNow (the drain_stateful lesson), so this test polls the
    engine's input-row progress and stops the query itself instead of
    using _run_per_file_batches' awaitTermination."""
    import time as _time

    from pyspark.sql import types as T

    sdir = tmp_path / "in"
    sdir.mkdir()
    n_files, rows_per_file, n_keys = 12, 120, 16
    total = n_files * rows_per_file
    for i in range(n_files):
        ts = pd.date_range(
            pd.Timestamp("2024-03-01") + pd.Timedelta(hours=2 * i),
            periods=rows_per_file,
            freq="1min",
        )
        pdf = pd.DataFrame(
            {
                "station": [f"s{j % n_keys}" for j in range(rows_per_file)],
                "variable": "o2",
                "ts": ts,
                # constant per file, toggling across files: every key
                # carries a ~7-point run per batch that breaks (and
                # emits) at the next batch boundary
                "value": float(i % 2),
            }
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(
            str(sdir)
        )

    from wq_data_pipeline_spark.streaming.stateful import streaming_flat_runs

    schema = T.StructType(
        [
            T.StructField("station", T.StringType()),
            T.StructField("variable", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(sdir))
    )
    q = (
        streaming_flat_runs(stream, atol=1e-9, min_points=3)
        .writeStream.format("memory")
        .queryName("state_scale_flat")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    deadline = _time.time() + 300
    while _time.time() < deadline and q.isActive:
        if sum(p["numInputRows"] for p in q.recentProgress) >= total:
            break
        _time.sleep(0.5)
    progresses = [p for p in q.recentProgress if p["stateOperators"]]
    if q.isActive:
        q.stop()
    q.awaitTermination(30)
    assert sum(p["numInputRows"] for p in progresses) >= total
    assert spark.sql("select count(*) c from state_scale_flat").head().c > 0
    assert len(progresses) >= n_files - 1
    state_rows = [p["stateOperators"][0]["numRowsTotal"] for p in progresses]
    assert max(state_rows) <= n_keys, state_rows
    assert state_rows[-1] <= n_keys
