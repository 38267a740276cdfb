"""EP3 standalone SentemQC runner vs an independent pandas
re-implementation of the reference flow (apply_sentemqc_to_series,
scripts/sentemqc.py:80-114) on a synthetic two-variable fixture."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def fixture_long(spark):
    rng = np.random.default_rng(3)
    n = 600
    ts = pd.date_range("2024-05-01", periods=n, freq="15min")
    o2 = rng.normal(9.0, 0.4, n)
    o2[100] = 39.0  # band spike -> flagged
    o2[200:204] = -1.0  # non-positive -> premask
    no3 = rng.normal(8.0, 0.5, n).clip(0.5)  # NO3 units
    no3[300] = 60.0  # spike
    frames = [
        pd.DataFrame({"station": "stn", "variable": "o2", "ts": ts, "value": o2}),
        pd.DataFrame({"station": "stn", "variable": "no3", "ts": ts, "value": no3}),
    ]
    return spark.createDataFrame(pd.concat(frames))


def _ep3_var_map():
    from wq_data_pipeline_spark.plans.sentem_pipeline import SentemVar

    return [
        SentemVar("o2", code=400),
        SentemVar("no3", code=2477034, is_nitrate=True),
    ]


@pytest.fixture(scope="module")
def ep3_out(spark, fixture_long):
    from wq_data_pipeline_spark.plans.sentem_pipeline import run_sentemqc_plan

    return run_sentemqc_plan(fixture_long, _ep3_var_map()).cache()


def test_premask_and_masking(ep3_out):
    o2 = ep3_out.filter("variable = 'o2'")
    # non-positive inputs premasked: obs_raw NULL, mask_pre True
    pre = o2.filter("mask_pre")
    assert pre.count() == 4
    assert pre.filter(F.col("obs_raw").isNotNull()).count() == 0
    # flagged rows masked out of value_masked
    assert o2.filter(F.col("is_flagged") & F.col("value_masked").isNotNull()).count() == 0


def test_spikes_flagged_with_reasons(ep3_out):
    o2 = ep3_out.filter("variable = 'o2'").orderBy("ts").collect()
    spike = o2[100]
    assert spike.is_flagged, "39.0 must breach the O2 bands (and the >=40 sensor rule is near)"
    assert "flag_run" in spike.flag_reason or "flag_sensor" in spike.flag_reason
    no3 = ep3_out.filter("variable = 'no3'").orderBy("ts").collect()
    assert no3[300].is_flagged


def test_nitrate_bands_back_in_no3_units(ep3_out):
    """Flags run on N-converted values but exported bands are NO3
    units (x62/14 back, scripts/sentemqc.py:110-111): bands must sit
    near the NO3-scale data, not 4.4x below it."""
    rows = (
        ep3_out.filter("variable = 'no3' AND qcband_top IS NOT NULL")
        .agg(
            F.avg("qcband_top").alias("t"),
            F.avg("obs_raw").alias("v"),
            F.avg("qcband_bottom").alias("b"),
        )
        .first()
    )
    assert rows.b < rows.v < rows.t
    assert rows.t > 8.0 * 0.8, f"band top {rows.t} looks N-scaled, not NO3-scaled"


def test_band_support_masks_sparse_regions(ep3_out):
    """Rows inside the premasked hole have < minp finite neighbors in
    the 5-point window -> bands NULL there (W15)."""
    o2 = ep3_out.filter("variable = 'o2'").orderBy("ts").collect()
    assert o2[201].qcband_top is None
    dense = [r for r in o2[400:500]]
    assert all(r.qcband_top is not None for r in dense)


def test_wide_export_naming(ep3_out):
    from wq_data_pipeline_spark.plans.sentem_pipeline import sentemqc_wide

    wide = sentemqc_wide(ep3_out)
    cols = set(wide.columns)
    for var in ("o2", "no3"):
        for suf in (
            "flag_global", "is_flagged", "flag_reason",
            "qcband_top", "qcband_bottom", "masked",
        ):
            assert f"{var}__{suf}" in cols, cols
    assert wide.count() == 600


def test_matches_pandas_reference_flow(spark, fixture_long, ep3_out):
    """Independent pandas replication of the reference's run-4 band
    pass (mean window 5) for the o2 series: the engine's flag_run4
    decisions must match row-for-row."""
    pdf = (
        fixture_long.filter("variable = 'o2'").orderBy("ts").toPandas().reset_index()
    )
    s = pdf["value"].astype(float)
    s = s.mask(~np.isfinite(s) | (s <= 0), np.nan)
    minp = max(3, math.ceil(5 * 0.3))
    ma = s.rolling(5, center=True, min_periods=minp).mean()
    sd = s.rolling(5, center=True, min_periods=minp).std(ddof=0)
    top = ma + 0.05 + 1.3 * sd
    bot = ma - 0.05 - 1.3 * sd
    hi, lo = s * 1.02, s * 0.98
    flagged = (((hi > top) & (lo > top)) | ((hi < bot) & (lo < bot))).fillna(False)
    eng = (
        ep3_out.filter("variable = 'o2'")
        .orderBy("ts")
        .select("flag_run4")
        .collect()
    )
    eng_flags = [r.flag_run4 == 200 for r in eng]
    mismatches = sum(1 for a, b in zip(flagged.tolist(), eng_flags) if a != b)
    assert mismatches == 0, f"{mismatches} run-4 flag mismatches vs pandas"


def test_ep3_figure_renders(ep3_out, tmp_path):
    """EP3 output feeds the sentemqc combined plot directly
    (reference run_sentemqc_on_dataframe plot_dir path)."""
    import os

    from wq_data_pipeline_spark.report import render_sentemqc_figure

    p = render_sentemqc_figure(
        ep3_out, str(tmp_path), "stn", "no3", value_col="obs_raw", max_points=200
    )
    assert os.path.exists(p) and os.path.getsize(p) > 500


def test_ep3_plan_builds_passes_side_by_side(fixture_long):
    """EP3 runs the five passes through apply_sentemqc: per variable
    the centers/stds are one window projection (the two wide passes
    share one prefix-sum set), not one band pass after another."""
    from test_plan_budget import _count_op

    from wq_data_pipeline_spark.plans.sentem_pipeline import run_sentemqc_plan

    out = run_sentemqc_plan(fixture_long, _ep3_var_map())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert _count_op(plan, "Window") <= 12, plan


@pytest.mark.parametrize(
    "bounds",
    [
        ("2024-05-03 00:00:00", None),
        (None, "2024-05-03 00:00:00"),
    ],
    ids=["start_only", "end_only"],
)
def test_lone_time_bound_is_applied(fixture_long, bounds):
    """Each of start/end bounds the series on its own, inclusively
    (the reference's d.loc[start:end])."""
    from wq_data_pipeline_spark.plans.sentem_pipeline import run_sentemqc_plan

    start, end = (F.lit(b).cast("timestamp") if b else None for b in bounds)
    out = run_sentemqc_plan(fixture_long, _ep3_var_map(), start_time=start, end_time=end)
    span = out.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"), F.count("*").alias("n")).first()
    cut = pd.Timestamp("2024-05-03 00:00:00")
    per_var_before = int((cut - pd.Timestamp("2024-05-01")) / pd.Timedelta("15min"))
    if start is not None:
        assert pd.Timestamp(span.lo) == cut
        assert span.n == 2 * (600 - per_var_before)
    else:
        assert pd.Timestamp(span.hi) == cut
        assert span.n == 2 * (per_var_before + 1)


@pytest.mark.parametrize(
    "last",
    [
        ("tri5", 5),
        ("mean", 5),
        ("median", 12),
        ("mean", 960),
    ],
    ids=lambda p: f"{p[0]}_w{p[1]}",
)
def test_sentemqc_bands_are_last_pass_bands(spark, last):
    """apply_sentemqc's qcband_top/qcband_bottom are band_columns over
    the last pass's center/std, computed here with the direct-frame
    operators (rolling_mean_std / tri5_mean_std) — including the NULL
    where the pass's min-periods guard fails (gaps, series edges)."""
    from wq_data_pipeline_spark.operators.sentem import (
        DEFAULT_PASSES,
        BandPassCfg,
        apply_sentemqc,
        band_columns,
        premask_nonpositive,
        rolling_mean_std,
        tri5_mean_std,
    )

    stat, window = last
    cfg = BandPassCfg(window=window, scale=2.2, top_add=0.3, bottom_sub=0.1, stat=stat)
    passes = (*DEFAULT_PASSES[:-1], cfg)
    rng = np.random.default_rng(17)
    n = 1500
    ts = pd.date_range("2024-06-01", periods=n, freq="15min")
    frames = []
    for var in ("a", "b"):
        v = rng.normal(12.0, 1.5, n)
        v[rng.choice(n, 60, replace=False)] = np.nan  # scattered NULLs
        v[400:420] = np.nan  # a gap wider than every narrow window
        v[[1, 3, n - 2]] = np.nan  # sparse series edges
        v[900:903] = -1.0  # non-positive -> pre-masked
        frames.append(pd.DataFrame({"station": "s", "variable": var, "ts": ts, "value": v}))
    df = spark.createDataFrame(pd.concat(frames)).withColumn(
        "value", F.when(~F.isnan("value"), F.col("value"))
    )

    got = apply_sentemqc(df, passes=passes).select("variable", "ts", "qcband_top", "qcband_bottom")
    pre = df.withColumn("value", premask_nonpositive("value"))
    if stat == "tri5":
        ref = tri5_mean_std(pre, "value")
    else:
        ref = rolling_mean_std(pre, "value", window, stat=stat)
    top, bottom = band_columns("ma", "sd", cfg)
    ref = ref.select("variable", "ts", top.alias("ref_top"), bottom.alias("ref_bottom"))
    both = got.join(ref, ["variable", "ts"]).orderBy("variable", "ts").toPandas()
    assert len(both) == 2 * n
    for col in ("top", "bottom"):
        a, b = both[f"qcband_{col}"], both[f"ref_{col}"]
        assert a.isna().equals(b.isna()), f"{col}: guard differs"
        assert a.notna().any()
        if window < 960:
            assert a.isna().any(), "fixture must exercise the min-periods guard"
        np.testing.assert_allclose(a, b, rtol=1e-9, atol=1e-9, equal_nan=True)
