"""Pandas-exactness tests for the semantic corners SURVEY §7.2 flags:
centered even-window alignment, min_periods nulling, ddof conventions,
tri5 weighting, and the full 5-pass SentemQC vs a straight pandas
reimplementation of the reference's semantics."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

KEYS = ["station", "variable"]


@pytest.fixture(scope="module")
def series_df(spark):
    rng = np.random.default_rng(11)
    n = 800
    ts = pd.date_range("2024-02-01", periods=n, freq="15min")
    v = rng.normal(10, 2, n)
    v[rng.choice(n, 60, replace=False)] = np.nan  # holes exercise min_periods
    pdf = pd.DataFrame({"station": "s", "variable": "v", "ts": ts, "value": v})
    return spark.createDataFrame(pdf), pdf


# odd + both even cases on direct frames, 960 on the prefix-sum path
@pytest.mark.parametrize("w", [5, 12, 48, 960])
def test_centered_mean_matches_pandas(series_df, w):
    """The SentemQC kernel's band-pass mean and population std."""
    import math

    from wq_data_pipeline_spark.operators import series_qc as Q

    _, pdf = series_df
    v = pdf["value"].to_numpy()
    cfg = Q.BandPassCfg(window=w, scale=1.0)
    assert (w >= Q.PREFIX_WINDOW_THRESHOLD) == (w == 960)
    with np.errstate(invalid="ignore"):
        ma, sd = Q.band_stats(v, cfg, Q._prefix_sums(v))
    minp = max(3, math.ceil(w * 0.3))
    r = pdf["value"].rolling(w, center=True, min_periods=minp)
    exp_ma = r.mean().to_numpy()
    exp_sd = r.std(ddof=0).to_numpy()
    assert not np.isnan(ma).all()
    assert np.allclose(ma, exp_ma, equal_nan=True, rtol=1e-12)
    assert np.allclose(sd, exp_sd, equal_nan=True, rtol=1e-9)


@pytest.mark.parametrize("w", [11, 24])
def test_centered_median_matches_pandas(spark, series_df, w):
    from wq_data_pipeline_spark.operators.detectors import with_rolling_median

    sdf, pdf = series_df
    minp = max(5, w // 3)
    out = (
        with_rolling_median(sdf, "value", w, KEYS, "ts", minp)
        .orderBy("ts")
        .select("roll_med")
        .toPandas()["roll_med"]
        .to_numpy()
    )
    exp = pdf["value"].rolling(w, center=True, min_periods=minp).median().to_numpy()
    assert np.allclose(out, exp, equal_nan=True, rtol=1e-12)


def test_var_samp_matches_pandas_ddof1(spark, series_df):
    from wq_data_pipeline_spark.operators.windows import centered, guard_min_periods

    sdf, pdf = series_df
    frame = centered(25, KEYS, "ts")
    out = (
        sdf.withColumn(
            "v25", guard_min_periods(F.var_samp("value").over(frame), "value", frame, 8)
        )
        .orderBy("ts")
        .select("v25")
        .toPandas()["v25"]
        .to_numpy()
    )
    exp = pdf["value"].rolling(25, center=True, min_periods=8).var().to_numpy()
    assert np.allclose(out, exp, equal_nan=True, rtol=1e-9)


def test_tri5_matches_reference_numpy(spark, series_df):
    """tri5 vs a direct numpy transcription of the reference's
    weighted mean/std semantics (scripts/sentemqc.py:31-39)."""
    from wq_data_pipeline_spark.operators import series_qc as Q
    from wq_data_pipeline_spark.operators.sentem import TRI5_WEIGHTS, tri5_mean_std

    sdf, pdf = series_df
    out = (
        tri5_mean_std(sdf, "value", KEYS, "ts")
        .orderBy("ts")
        .select("ma", "sd")
        .toPandas()
    )
    v = pdf["value"].to_numpy()
    cfg = Q.BandPassCfg(window=5, scale=1.0, stat="tri5")
    with np.errstate(invalid="ignore"):
        kernel_ma, kernel_sd = Q.band_stats(v, cfg, Q._prefix_sums(v))
    n = len(v)
    exp_ma = np.full(n, np.nan)
    exp_sd = np.full(n, np.nan)
    for i in range(n):
        vals, wts = [], []
        for k in range(-2, 3):
            j = i + k
            if 0 <= j < n and np.isfinite(v[j]):
                vals.append(v[j])
                wts.append(TRI5_WEIGHTS[k + 2])
        if len(vals) < 3:
            continue
        vals, wts = np.asarray(vals), np.asarray(wts)
        m = (vals * wts).sum() / wts.sum()
        exp_ma[i] = m
        exp_sd[i] = np.sqrt((wts * (vals - m) ** 2).sum() / wts.sum())
    for ma, sd in ((out["ma"].to_numpy(), out["sd"].to_numpy()), (kernel_ma, kernel_sd)):
        assert np.allclose(ma, exp_ma, equal_nan=True, rtol=1e-12)
        assert np.allclose(sd, exp_sd, equal_nan=True, rtol=1e-9)


def test_full_sentemqc_pipeline(spark):
    """SentemQC end-to-end on a fixture, through the EP3 runner (code
    400's passes and sensor rules) and through the QC pipeline's
    ``sm_*`` columns: flags fire on injected excursions; masks and
    reasons are internally consistent. EP3 keeps the pre-masked value
    as ``obs_raw`` (NULL where the input was <= 0, ``mask_pre`` set)."""
    from wq_data_pipeline_spark.plans.qc_pipeline import QCConfig, run_qc_pipeline
    from wq_data_pipeline_spark.plans.sentem_pipeline import SentemVar, run_sentemqc_plan

    rng = np.random.default_rng(5)
    n = 2000
    ts = pd.date_range("2024-01-01", periods=n, freq="15min")
    v = rng.normal(8, 0.3, n)
    v[700] = 30.0  # hard spike: outside every band
    v[900:905] = -2.0  # non-positive -> pre-masked
    pdf = pd.DataFrame({"station": "s", "variable": "o2", "ts": ts, "value": v})
    df = spark.createDataFrame(pdf)
    out = run_sentemqc_plan(df, [SentemVar("o2", code=400)]).orderBy("ts").collect()
    pipeline = (
        run_qc_pipeline(df, QCConfig())
        .timeseries.orderBy("ts")
        .select(
            F.col("sm_flagged").alias("is_flagged"),
            F.col("sm_masked").alias("value_masked"),
            F.col("sm_flagreason").alias("flag_reason"),
        )
        .collect()
    )
    for r in out[900:905]:
        assert r.obs_raw is None and r.mask_pre  # pre-mask turned them into NULL
    for rows in (out, pipeline):
        spike = rows[700]
        assert spike.is_flagged and spike.value_masked is None
        assert "flag_run" in spike.flag_reason or "flag_sensor" in spike.flag_reason
        assert all(r.value_masked is None for r in rows[900:905])
        flagged = [r for r in rows if r.is_flagged]
        ok = [r for r in rows if not r.is_flagged]
        assert all(r.value_masked is None for r in flagged)
        assert all(r.flag_reason == "" for r in ok)
        # the bulk of a clean series must survive
        assert len(ok) > 0.9 * n
    assert out[700].flag_global == 200


def test_flags_monotone_property(spark, series_df):
    """Property (SURVEY §5.2): adding a detector can only grow the
    flagged set."""
    from wq_data_pipeline_spark.operators import detectors as D

    sdf, _ = series_df
    base = D.merge_flags(D.flag_range("value", 5.0, 15.0))
    more = D.merge_flags(
        D.flag_range("value", 5.0, 15.0), D.flag_jumps("value", 3.0, KEYS, "ts")
    )
    d = sdf.withColumn("f1", base).withColumn("f2", more)
    assert d.filter(F.col("f1") & ~F.col("f2")).count() == 0


def test_islands_partition_property(spark, series_df):
    """Islands partition the series: ids are monotone, never skip."""
    from wq_data_pipeline_spark.operators.windows import with_islands

    sdf, _ = series_df
    d = with_islands(sdf.withColumn("flag", F.col("value") > 10), "flag", KEYS, "ts")
    rows = d.orderBy("ts").select("island_id").collect()
    ids = [r.island_id for r in rows]
    assert ids[0] == 1
    assert all(b - a in (0, 1) for a, b in zip(ids, ids[1:]))
