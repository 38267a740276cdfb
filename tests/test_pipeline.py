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
    """The flag chain and the event detectors run once per pipeline:
    the outputs that several sinks and figures read must start from
    the pinned tables, so no pandas island and no window pass is left
    in their plans to re-run per action."""
    import re

    from wq_data_pipeline_spark.plans.qc_pipeline import QCConfig, run_qc_pipeline
    from wq_data_pipeline_spark.sources.csv_source import melt_wide, read_wide_csv

    wide = read_wide_csv(spark, fixture_csv, station_field="station", station_value="stn1")
    long = melt_wide(wide, ["o2", "ph"], station_col="station")
    out = run_qc_pipeline(long, QCConfig(full_suite=True))
    for name in ("timeseries", "timeseries_wide", "events", "seasonal"):
        plan = getattr(out, name)._jdf.queryExecution().optimizedPlan().toString()
        flatmaps = len(re.findall(r"\bFlatMapGroupsInPandas\b", plan))
        windows = len(re.findall(r"\bWindow\b", plan))
        assert (flatmaps, windows) == (0, 0), (name, flatmaps, windows)


def test_flag_chain_is_one_linear_plan(spark, fixture_csv):
    """clean -> full-suite flags -> SentemQC reads the source once: no
    per-series statistic is joined back to its rows (each is a window
    column over the series partition), so the executed plan has one
    scan, one pandas robust-z island, no join and no broadcast."""
    from test_plan_budget import _count_op

    from wq_data_pipeline_spark.plans.qc_pipeline import (
        QCConfig,
        clean_stage,
        flag_stage,
        sentem_stage,
    )
    from wq_data_pipeline_spark.sources.csv_source import melt_wide, read_wide_csv

    wide = read_wide_csv(spark, fixture_csv, station_field="station", station_value="stn1")
    long = melt_wide(wide, ["o2", "ph"], station_col="station")
    cfg = QCConfig(full_suite=True)
    flagged = sentem_stage(flag_stage(clean_stage(long, cfg), cfg))
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    joins = sum(
        _count_op(plan, op)
        for op in (
            "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
            "BroadcastNestedLoopJoin", "CartesianProduct",
        )
    )
    shape = {
        "scans": _count_op(plan, "FileScan"),
        "pandas": _count_op(plan, "FlatMapGroupsInPandas"),
        "broadcasts": _count_op(plan, "BroadcastExchange"),
        "joins": joins,
    }
    assert shape == {"scans": 1, "pandas": 1, "broadcasts": 0, "joins": 0}, (shape, plan)
    assert _count_op(plan, "Exchange") <= 3, plan


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
