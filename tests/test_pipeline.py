"""End-to-end QC pipeline: synthetic wide sensor CSV -> ingest/melt ->
clean -> flags -> events -> wide parquet + CSV reports (FIXTURES.md A1
shape, 15-min cadence, injected anomalies)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


@pytest.fixture(scope="module")
def fixture_csv(tmp_path_factory):
    rng = np.random.default_rng(42)
    n = 4000  # ~41 days at 15 min
    ts = pd.date_range("2024-01-01", periods=n, freq="15min")
    o2 = rng.normal(10, 1.5, n).clip(0)
    ph = rng.normal(6.8, 0.25, n)
    # anomalies: sentinels, a flat run, a zero run, spikes, a gap
    o2[100:110] = -9999.0
    o2[500:520] = 7.77  # flat run (5h)
    o2[1000:1012] = 0.0  # zero run
    o2[2000] = 45.0  # out of range (0, 40)
    ph[1500] = 60.0  # spike far out of (0, 13)
    df = pd.DataFrame({"timestamp": ts, "station": "stn1", "o2": o2, "ph": ph})
    df = df.drop(index=range(3000, 3100))  # 25h gap
    p = tmp_path_factory.mktemp("fixture") / "wq.csv"
    df.to_csv(p, index=False)
    return str(p)


@pytest.fixture(scope="module")
def outputs(spark, fixture_csv):
    from wq_data_pipeline_spark.plans.qc_pipeline import QCConfig, run_qc_pipeline
    from wq_data_pipeline_spark.sources.csv_source import melt_wide, read_wide_csv

    wide = read_wide_csv(spark, fixture_csv, station_field="station", station_value="stn1")
    long = melt_wide(wide, ["o2", "ph"], station_col="station")
    cfg = QCConfig(range_map={"o2": (0.0, 40.0), "ph": (0.0, 13.0)}, z_thresh=6.0)
    return run_qc_pipeline(long, cfg)


def test_sentinels_masked(outputs):
    ts = outputs.timeseries
    from pyspark.sql import functions as F

    n_sentinel = ts.filter((F.col("variable") == "o2") & (F.col("raw") == -9999.0)).count()
    assert n_sentinel == 0, "active sentinel values must be masked at ingest"


def test_flat_run_detected(outputs):
    ev = outputs.events.filter("type = 'flat_values' AND variable = 'o2'").collect()
    assert any(abs(r.value - 7.77) < 1e-9 and r.hours >= 2.0 for r in ev)


def test_zero_run_detected(outputs):
    ev = outputs.events.filter("type = 'binary_switch' AND variable = 'o2'").collect()
    assert len(ev) >= 1
    assert any(r.n_points == 12 for r in ev)


def test_range_flags_propagate(outputs):
    from pyspark.sql import functions as F

    ts = outputs.timeseries
    bad = ts.filter((F.col("variable") == "o2") & (F.col("clean") > 40.0))
    assert bad.count() >= 1
    assert bad.filter(F.col("saqc_flag") != 255).count() == 0
    assert bad.filter(F.col("accepted").isNotNull()).count() == 0


def test_accepted_subset_of_clean(outputs):
    from pyspark.sql import functions as F

    ts = outputs.timeseries
    assert ts.filter(F.col("accepted").isNotNull() & F.col("clean").isNull()).count() == 0


def test_gap_nulled(outputs):
    from pyspark.sql import functions as F

    ts = outputs.timeseries.filter(F.col("variable") == "o2")
    gap_rows = ts.filter(F.col("is_gap"))
    assert gap_rows.count() == 1  # only the first row AFTER the gap
    assert gap_rows.filter(F.col("clean").isNotNull()).count() == 0


def test_wide_schema_naming(outputs):
    cols = set(outputs.timeseries_wide.columns)
    for var in ("o2", "ph"):
        for suf in (
            "raw", "clean", "accepted", "saqc_flag",
            # sentem columns attached when apply_sentem (reference
            # process_variable :740-744)
            "sm_masked", "sm_flagged", "sm_flagreason",
        ):
            assert f"{var}__{suf}" in cols, cols


def test_sentem_columns_in_long(outputs):
    from pyspark.sql import functions as F

    ts = outputs.timeseries
    assert {"sm_masked", "sm_flagged", "sm_flagreason"} <= set(ts.columns)
    # flagged rows are masked to NULL; unflagged keep the (premasked) value
    assert ts.filter(F.col("sm_flagged") & F.col("sm_masked").isNotNull()).count() == 0
    assert ts.filter(F.col("sm_flagged") & (F.col("sm_flagreason") == "")).count() == 0


def test_seasonal_rows(outputs):
    rows = outputs.seasonal.filter("variable = 'o2'").collect()
    seasons = {r.season for r in rows}
    assert "DJF" in seasons
    for r in rows:
        assert 0.0 <= r.nan_pct <= 100.0


def test_write_outputs(outputs, tmp_path):
    import os

    from wq_data_pipeline_spark.plans.qc_pipeline import write_outputs

    base = str(tmp_path / "out")
    write_outputs(outputs, base)
    assert os.path.isdir(f"{base}/qc_timeseries_wide/station=stn1")
    assert any(f.endswith(".csv") for f in os.listdir(f"{base}/events"))


def test_multi_consumer_outputs_read_pinned_tables(spark, fixture_csv):
    """The per-series kernel and the event detectors run once per
    pipeline: the outputs that several sinks and figures read must
    start from the pinned tables, so no Python-worker node and no
    window pass is left in their plans to re-run per action."""
    import re

    from wq_data_pipeline_spark.plans.qc_pipeline import QCConfig, run_qc_pipeline
    from wq_data_pipeline_spark.sources.csv_source import melt_wide, read_wide_csv

    wide = read_wide_csv(spark, fixture_csv, station_field="station", station_value="stn1")
    long = melt_wide(wide, ["o2", "ph"], station_col="station")
    out = run_qc_pipeline(long, QCConfig(full_suite=True))
    for name in ("timeseries", "timeseries_wide", "events", "seasonal"):
        plan = getattr(out, name)._jdf.queryExecution().optimizedPlan().toString()
        python = len(re.findall(r"\bFlatMapGroupsIn(?:Arrow|Pandas)\b", plan))
        windows = len(re.findall(r"\bWindow\b", plan))
        assert (python, windows) == (0, 0), (name, python, windows)


def test_flag_chain_is_one_linear_plan(spark, fixture_csv):
    """clean -> full-suite flags -> SentemQC is one grouped-Arrow pass
    over the source: the long table's executed plan has one scan, one
    FlatMapGroupsInArrow node, no window pass, no join and no
    broadcast."""
    from test_plan_budget import _count_op

    from wq_data_pipeline_spark.plans.qc_pipeline import QCConfig, qc_long
    from wq_data_pipeline_spark.sources.csv_source import melt_wide, read_wide_csv

    wide = read_wide_csv(spark, fixture_csv, station_field="station", station_value="stn1")
    long = melt_wide(wide, ["o2", "ph"], station_col="station")
    plan = qc_long(long, QCConfig(full_suite=True))._jdf.queryExecution().executedPlan().toString()
    shape = {
        "scans": _count_op(plan, "FileScan"),
        "arrow": _count_op(plan, "FlatMapGroupsInArrow"),
        "windows": _count_op(plan, "Window"),
        "broadcasts": _count_op(plan, "BroadcastExchange"),
        "joins": _joins(plan),
    }
    assert shape == {"scans": 1, "arrow": 1, "windows": 0, "broadcasts": 0, "joins": 0}, (
        shape, plan,
    )


def _joins(plan: str) -> int:
    from test_plan_budget import _count_op

    return sum(
        _count_op(plan, op)
        for op in (
            "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
            "BroadcastNestedLoopJoin", "CartesianProduct",
        )
    )


def test_report_tables_hold_no_join(spark, fixture_csv):
    """The events, seasonal and meta tables are projections of the
    pinned series pass: their plans read the pin and hold no file scan,
    no window, no join and no exchange."""
    from test_plan_budget import _count_op

    from wq_data_pipeline_spark.plans.qc_pipeline import QCConfig, run_qc_pipeline
    from wq_data_pipeline_spark.sources.csv_source import melt_wide, read_wide_csv

    wide = read_wide_csv(spark, fixture_csv, station_field="station", station_value="stn1")
    long = melt_wide(wide, ["o2", "ph"], station_col="station")
    out = run_qc_pipeline(long, QCConfig(full_suite=True))
    for name in ("events", "seasonal", "meta"):
        plan = getattr(out, name)._jdf.queryExecution().executedPlan().toString()
        shape = {
            "pin": plan.count("Scan ExistingRDD["),
            "scans": _count_op(plan, "FileScan"),
            "windows": _count_op(plan, "Window"),
            "joins": _joins(plan),
            "exchanges": _count_op(plan, "Exchange") + _count_op(plan, "BroadcastExchange"),
        }
        assert shape == {"pin": 1, "scans": 0, "windows": 0, "joins": 0, "exchanges": 0}, (
            name, shape, plan,
        )


def test_seasonal_marks_equal_a_left_join(spark):
    """The pipeline's seasonal table is ``seasonal_stats`` over the clean
    series with the flat_values/flat_slopes event starts counted per
    season and left-joined on (keys, season), 0-filled, on a series
    running from DJF into MAM with flat runs in both seasons."""
    from pyspark.sql import functions as F

    from wq_data_pipeline_spark.functions.scalars import season_expr
    from wq_data_pipeline_spark.operators.stats import seasonal_stats
    from wq_data_pipeline_spark.plans.qc_pipeline import SEASONAL_SCHEMA, QCConfig, run_qc_pipeline

    ts = pd.date_range("2024-02-20", periods=1500, freq="15min")  # DJF into MAM
    v = np.random.default_rng(5).normal(5, 1, len(ts))
    v[::13] = np.nan
    v[100:130] = 4.5  # flat runs: two in DJF, one in MAM
    v[400:420] = 6.25
    v[1100:1140] = 3.75
    readings = spark.createDataFrame(
        pd.DataFrame({"station": "s", "variable": "x", "ts": ts, "value": v})
    )
    out = run_qc_pipeline(readings, QCConfig(apply_sentem=False))
    keys = ["station", "variable"]
    counts = {"flat_values": "flat_values_events", "flat_slopes": "flat_slopes_events"}
    starts = (
        out.events.groupBy(*keys, season_expr("start").alias("season"))
        .pivot("type", list(counts)).count()
    )
    for kind, name in counts.items():
        starts = starts.withColumnRenamed(kind, name)
    exp = (
        seasonal_stats(out.timeseries.withColumnRenamed("clean", "value"), keys)
        .join(starts, [*keys, "season"], "left")
        .fillna(0, subset=list(counts.values()))
        .toPandas()
    )
    assert out.seasonal.schema == SEASONAL_SCHEMA
    got = out.seasonal.toPandas()
    assert list(got.columns) == list(exp.columns)
    got, exp = (d.sort_values("season").reset_index(drop=True) for d in (got, exp))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    assert got.set_index("season")[list(counts.values())].to_dict("index") == {
        "DJF": {"flat_values_events": 2, "flat_slopes_events": 0},
        "MAM": {"flat_values_events": 1, "flat_slopes_events": 1},
    }


def test_meta_matches_pandas_reference(spark):
    """The pipeline's meta step, duplicates and sentinels against pandas
    on a series with repeated timestamps and NULL-ts rows, and a 2-row
    series (the 15-min default step)."""
    import datetime as dt
    import json

    from wq_data_pipeline_spark.plans.qc_pipeline import QCConfig, run_qc_pipeline

    t0 = dt.datetime(2024, 5, 1)
    ts = [t0 + dt.timedelta(minutes=10 * i) for i in range(200)]
    v = np.random.default_rng(9).normal(3, 1, 200)
    v[20:27] = -999.0
    rows = [("a", "x", t, float(x)) for t, x in zip(ts, v)]
    rows += [("a", "x", ts[3], 1.0), ("a", "x", ts[3], 2.0), ("a", "x", ts[8], 4.0)]
    rows += [("a", "x", None, 1.0), ("a", "x", None, 5.0)]
    rows += [("a", "y", ts[0], 1.0), ("a", "y", ts[1], -9999.0)]
    got = {
        r.variable: r
        for r in run_qc_pipeline(
            spark.createDataFrame(rows, "station string, variable string, ts timestamp, value double"),
            QCConfig(apply_sentem=False),
        ).meta.collect()
    }
    pdf = pd.DataFrame(rows, columns=["station", "variable", "ts", "value"])
    for var, g in pdf.groupby("variable"):
        diffs = g["ts"].dropna().sort_values().diff().dt.total_seconds()
        pos = diffs[diffs > 0]
        step = float(pos.median()) if len(g) >= 3 and len(pos) else 900.0
        dups = int(g["ts"].value_counts(dropna=False).sub(1).sum())
        assert got[var].step_seconds == step, var
        assert got[var].duplicates == dups, var
    assert (got["x"].duplicates, got["y"].duplicates) == (4, 0)
    assert json.loads(got["x"].sentinel_used) == [-999.0]
    assert json.loads(got["y"].sentinel_used) == [-9999.0]  # 1 of 2 rows >= 0.1%


def test_null_station_is_a_series_like_any_other(spark):
    """Two identical series, station NULL and station 'stnA', get equal
    seasonal, meta and global-robust-z spike rows: every join on the
    series keys is NULL-safe."""
    from pyspark.sql import functions as F

    from wq_data_pipeline_spark.operators.stats import global_robust_z
    from wq_data_pipeline_spark.plans.qc_pipeline import QCConfig, run_qc_pipeline

    rng = np.random.default_rng(4)
    ts = pd.date_range("2024-01-01", periods=400, freq="15min")
    v = rng.normal(10, 1, len(ts))
    v[100:130] = 7.25  # flat run
    v[250] = 40.0  # spike
    v[300:306] = -9999.0  # active sentinel
    long = spark.createDataFrame(
        pd.concat(
            pd.DataFrame({"station": st, "variable": "o2", "ts": ts, "value": v})
            for st in (None, "stnA")
        ),
        "station string, variable string, ts timestamp, value double",
    )
    out = run_qc_pipeline(long, QCConfig(apply_sentem=False))
    spikes = global_robust_z(
        out.timeseries.select("station", "variable", "ts", F.col("clean").alias("value"))
    )

    def by_station(df):
        rows = {}
        for r in df.collect():
            d = r.asDict()
            rows.setdefault(d.pop("station"), []).append(tuple(sorted(d.items())))
        return {k: sorted(v, key=repr) for k, v in rows.items()}

    for name, df in (("seasonal", out.seasonal), ("meta", out.meta), ("spikes", spikes)):
        got = by_station(df)
        assert set(got) == {None, "stnA"}, (name, got)
        assert got[None] == got["stnA"], (name, got)
    assert {r.flat_values_events for r in out.seasonal.collect()} == {1}
    assert {r.duplicates for r in out.meta.collect()} == {0}
    assert spikes.count() == 2


def test_wrtds_matches_reference_numpy(spark):
    """WRTDS applyInPandas vs an independent dense-numpy loop on a
    small synthetic series."""
    import math

    from wq_data_pipeline_spark.operators import wrtds as WR

    rng = np.random.default_rng(7)
    n = 400
    ts = pd.date_range("2023-01-01", periods=n, freq="1D")
    t_days = ts.astype("int64").to_numpy() / 86_400e9
    doy = 2 * math.pi * (t_days % 365.25) / 365.25
    y = 5 + 0.003 * (t_days - t_days[0]) + np.sin(doy) + rng.normal(0, 0.2, n)
    pdf = pd.DataFrame({"station": "s", "variable": "v", "ts": ts, "value": y})
    sdf = spark.createDataFrame(pdf)
    got = (
        WR.wrtds_residuals(sdf)
        .orderBy("ts")
        .select("fitted")
        .toPandas()["fitted"]
        .to_numpy()
    )

    # independent dense implementation (no windowing shortcut)
    X = np.column_stack([t_days, np.sin(doy), np.cos(doy)])
    exp = np.full(n, np.nan)
    for i in range(n):
        dt = (t_days - t_days[i]) / WR.HT_DAYS
        w = np.exp(-0.5 * dt * dt)
        keep = w >= WR.WEIGHT_CUT
        if keep.sum() < WR.MIN_POINTS:
            continue
        A = np.column_stack([np.ones(keep.sum()), X[keep]]) * np.sqrt(w[keep])[:, None]
        b = y[keep] * np.sqrt(w[keep])
        coef, *_ = np.linalg.lstsq(A, b, rcond=None)
        exp[i] = coef[0] + X[i] @ coef[1:]
    assert np.allclose(got, exp, rtol=1e-8, atol=1e-8, equal_nan=True)


def test_multimodal_to_similarity_bridge(spark, sf_dir):
    """Full multimodal chain: binary content -> resize -> feature
    extraction -> similarity search. The fake decode/extract paths are
    deterministic, so the plumbing (Arrow batch shapes, schemas,
    partition flow into the ANN operators) is exercised end-to-end."""
    from pyspark.sql import functions as F

    from wq_data_pipeline_spark.operators.multimodal import (
        extract_features,
        resize_media,
    )
    from wq_data_pipeline_spark.operators.similarity import brute_force_topk
    from wq_data_pipeline_spark.sources.testdata import load_table

    media = (
        load_table(spark, sf_dir, "documents")
        .limit(200)
        .select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "UTF-8").alias("content"),
        )
    )
    resized = resize_media(media, height=8, width=8, fake=True)
    assert resized.columns == ["media_id", "content", "height", "width"]
    first = resized.first()
    assert len(bytes(first.content)) == 64 and first.height == 8

    feats = extract_features(resized, dim=16, fake=True).withColumnRenamed(
        "media_id", "vec_id"
    )
    qs = feats.filter(F.col("vec_id") % 50 == 0)
    top = brute_force_topk(feats, qs, k=3)
    n_q = qs.count()
    rows = top.collect()
    assert len(rows) == 3 * n_q
    assert all(-1.0 - 1e-9 <= r.cos_sim <= 1.0 + 1e-9 for r in rows)
    # determinism across runs (hash-derived features, no RNG)
    again = {(r.query_id, r.neighbor_id, r.rank) for r in brute_force_topk(feats, qs, k=3).collect()}
    assert again == {(r.query_id, r.neighbor_id, r.rank) for r in rows}


def test_meta_sentinel_used(outputs):
    """meta carries the per-series ACTIVE sentinel set (reference meta
    'sentinel_used', :738): o2 had 10x -9999 injected -> active;
    ph had none."""
    rows = {r.variable: r for r in outputs.meta.collect()}
    assert "-9999" in (rows["o2"].sentinel_used or "")
    assert rows["ph"].sentinel_used in ("[]", None)
    assert rows["o2"].duplicates == 0


def test_numeric_station_runs_through_the_pipeline(spark, tmp_path):
    """An all-digit station column, which CSV schema inference reads as
    int, is a string series key: the pipeline and its sinks run, and
    the station keeps its text."""
    from wq_data_pipeline_spark.plans.qc_pipeline import QCConfig, run_qc_pipeline, write_outputs
    from wq_data_pipeline_spark.sources.csv_source import melt_wide, read_wide_csv

    ts = pd.date_range("2024-01-01", periods=300, freq="15min")
    v = np.random.default_rng(8).normal(10, 1, len(ts))
    v[50:70] = 9.0  # flat run
    pd.DataFrame({"timestamp": ts, "station": 7, "o2": v}).to_csv(tmp_path / "wq.csv", index=False)
    wide = read_wide_csv(spark, str(tmp_path / "wq.csv"))
    out = run_qc_pipeline(melt_wide(wide, ["o2"], station_col="station"), QCConfig())
    write_outputs(out, str(tmp_path / "out"))
    assert {r.station for r in out.events.collect()} == {"7"}
    assert (tmp_path / "out" / "qc_timeseries_long" / "station=7").is_dir()
    events = pd.read_csv(next((tmp_path / "out" / "events").glob("part-*.csv")))
    assert set(events["type"]) >= {"flat_values"}


def test_outputs_unpin_every_pin(spark, monkeypatch, tmp_path):
    """The CLI releases every frame the pipeline pinned: each frame
    ``pinning.pin`` returns during a ``--figs`` run is passed to
    ``pinning.unpin`` once."""
    from wq_data_pipeline_spark import cli
    from wq_data_pipeline_spark.operators import pinning

    pinned, released = [], []
    real_pin = pinning.pin

    def pin(df, eager=False):
        pinned.append(real_pin(df, eager))
        return pinned[-1]

    monkeypatch.setattr(pinning, "pin", pin)
    monkeypatch.setattr(pinning, "unpin", released.append)
    ts = pd.date_range("2024-01-01", periods=200, freq="15min")
    v = np.random.default_rng(2).normal(10, 1, len(ts))
    pd.DataFrame({"timestamp": ts, "station": "stn1", "o2": v}).to_csv(
        tmp_path / "wq.csv", index=False
    )
    cli.main(
        ["--csv", str(tmp_path / "wq.csv"), "--out", str(tmp_path / "out"), "--vars", "o2", "--figs"]
    )
    assert len(pinned) == 1
    assert sorted(map(id, released)) == sorted(map(id, pinned))


def test_non_numeric_and_infinite_cells_become_null(spark, tmp_path):
    """A CSV value column holding ``NA`` (read as string) and ±inf melts
    to NULLs under ANSI, as pandas reads NA, and runs through the
    pipeline and its sinks."""
    from wq_data_pipeline_spark.plans.qc_pipeline import QCConfig, run_qc_pipeline, write_outputs
    from wq_data_pipeline_spark.sources.csv_source import melt_wide, read_wide_csv

    ts = pd.date_range("2024-01-01", periods=5, freq="15min")
    csv = tmp_path / "wq.csv"
    pd.DataFrame(
        {"timestamp": ts, "station": "s", "o2": ["1.5", "NA", "inf", "-Infinity", "NaN"]}
    ).to_csv(csv, index=False)
    long = melt_wide(read_wide_csv(spark, str(csv)), ["o2"], station_col="station")
    assert [r.value for r in long.orderBy("ts").collect()] == [1.5, None, None, None, None]
    out = run_qc_pipeline(long, QCConfig())
    write_outputs(out, str(tmp_path / "out"))
    assert [r.raw for r in out.timeseries.orderBy("ts").collect()] == [1.5, None, None, None, None]
    assert {r.duplicates for r in out.meta.collect()} == {0}


def test_qc_job_count_is_fixed(spark, tmp_path):
    """``run_qc_pipeline`` + ``write_outputs`` fire the same number of
    Spark jobs for 1 series as for 4 (2 stations x 2 variables), and at
    most 10: the series pass runs once, behind one pin, and every sink
    reads a projection of it."""
    from wq_data_pipeline_spark.plans.qc_pipeline import QCConfig, run_qc_pipeline, write_outputs
    from wq_data_pipeline_spark.sources.csv_source import melt_wide, read_wide_csv

    ts = pd.date_range("2024-01-01", periods=500, freq="15min")
    rng = np.random.default_rng(6)
    sc = spark.sparkContext
    jobs = []
    for stations, variables in ((1, 1), (2, 2)):
        names = [f"v{j}" for j in range(variables)]
        pd.concat(
            pd.DataFrame(
                {"timestamp": ts, "station": f"st{s}", **{v: rng.normal(10, 1, len(ts)) for v in names}}
            )
            for s in range(stations)
        ).to_csv(tmp_path / f"wq{stations}.csv", index=False)
        wide = read_wide_csv(spark, str(tmp_path / f"wq{stations}.csv"))
        readings = melt_wide(wide, names, station_col="station")
        group = f"test-qc-jobs-{stations}x{variables}"
        sc.setJobGroup(group, group)
        try:
            out = run_qc_pipeline(readings, QCConfig(full_suite=True))
            write_outputs(out, str(tmp_path / f"out{stations}"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        out.unpin()
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs[0] == jobs[1] <= 10, jobs
