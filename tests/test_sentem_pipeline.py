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


def test_absolute_envelope_matches_pandas():
    """Code 410 sets an absolute uncertainty envelope (value ± 0.1,
    ``uncertainty_con``) instead of a relative one: the kernel's run-4
    flags (mean window 5) match a pandas replication row for row."""
    from wq_data_pipeline_spark.operators.series_qc import sentemqc_series
    from wq_data_pipeline_spark.plans.sentem_pipeline import (
        SENTEMQC_CONFIG,
        passes_from_code_config,
    )

    rng = np.random.default_rng(6)
    v = rng.normal(7.5, 0.3, 800)
    v[[50, 300, 301]] = [12.0, 3.0, 2.9]
    passes = passes_from_code_config(SENTEMQC_CONFIG[410])
    assert passes[3].unc_const == 0.1 and passes[3].unc_pct is None
    flags, _, _ = sentemqc_series(v, passes)
    s = pd.Series(v)
    r = s.rolling(5, center=True, min_periods=3)
    ma, sd = r.mean(), r.std(ddof=0)
    top, bot = ma + 0.05 + 1.3 * sd, ma - 0.05 - 1.3 * sd
    hi, lo = s + 0.1, s - 0.1
    want = (((hi > top) & (lo > top)) | ((hi < bot) & (lo < bot))).to_numpy()
    assert want.sum() > 3
    assert np.array_equal(flags[3], want)


def test_ep3_figure_renders(ep3_out, tmp_path):
    """EP3 output feeds the sentemqc combined plot directly
    (reference run_sentemqc_on_dataframe plot_dir path)."""
    import os

    from wq_data_pipeline_spark.report import render_sentemqc_figure

    p = render_sentemqc_figure(ep3_out, str(tmp_path), "stn", "no3", max_points=200)
    assert os.path.exists(p) and os.path.getsize(p) > 500


def test_ep3_figure_counts_non_positive_inputs(ep3_out, tmp_path):
    """The figure's "Masked≤0" share is read before the pre-mask: the
    o2 series has 4 of 600 readings at -1.0."""
    from wq_data_pipeline_spark.report import render_sentemqc_figure

    p = render_sentemqc_figure(ep3_out, str(tmp_path), "stn", "o2", max_points=200)
    with open(p) as f:
        svg = f.read()
    assert "Masked≤0: 0.7%" in svg


def test_ep3_plan_builds_passes_side_by_side(spark):
    """EP3 sends each series to the band kernel once, which builds the
    five passes side by side: one grouped-Arrow pass and its one
    shuffle for 2 and for 3 mapped variables (no window pass, no
    per-variable sub-plan to union)."""
    from test_plan_budget import _count_op

    from wq_data_pipeline_spark.plans.sentem_pipeline import SentemVar, run_sentemqc_plan

    rng = np.random.default_rng(4)
    ts = pd.date_range("2024-05-01", periods=200, freq="15min")
    for n_vars in (2, 3):
        var_map = [*_ep3_var_map(), SentemVar("ph", code=410)][:n_vars]
        pdf = pd.concat(
            [
                pd.DataFrame({"station": "stn", "variable": v.variable, "ts": ts,
                              "value": rng.normal(8.0, 0.5, len(ts))})
                for v in var_map
            ]
        )
        out = run_sentemqc_plan(spark.createDataFrame(pdf), var_map)
        assert out.count() == n_vars * len(ts)
        plan = out._jdf.queryExecution().executedPlan().toString()
        ops = ("FlatMapGroupsInArrow", "Window", "Union", "Exchange")
        counts = {op: _count_op(plan, op) for op in ops}
        want = {"FlatMapGroupsInArrow": 1, "Window": 0, "Union": 0, "Exchange": 1}
        assert counts == want, plan


# sha256 of the EP3 output on ``fixture_long``: every non-float column
# and every float column's NULL positions, rows sorted by (station,
# variable, ts). Taken from the Spark window engine the kernel replaced,
# so a change to the kernel's flags shows here.
EP3_FIXTURE_DIGEST = "6af08ea8cd2f01774d1cd89d4a16ee7b51fa459a507230f6dfaf49bf1506d91f"


def test_ep3_flags_are_pinned(ep3_out):
    import hashlib

    floats = ["obs_in", "obs_raw", "value_masked", "qcband_top", "qcband_bottom"]
    cols = [
        "variable", "flag_global", "is_flagged", "flag_reason",
        *[f"flag_run{i}" for i in range(1, 6)], "mask_pre",
        *[F.col(c).isNull().alias(f"{c}_null") for c in floats],
    ]
    rows = ep3_out.orderBy("station", "variable", "ts").select(*cols).collect()
    text = "\n".join(repr(tuple(r)) for r in rows)
    assert hashlib.sha256(text.encode()).hexdigest() == EP3_FIXTURE_DIGEST


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
def test_sentemqc_bands_are_last_pass_bands(last):
    """The kernel's bands are the band formula over the last pass's
    centre/std: pandas' centred rolling mean/median and std(ddof=0)
    (tri5: a numpy transcription of the reference's weighted taps) —
    including the NULL where the pass's min-periods guard fails (gaps,
    series edges, pre-masked values)."""
    from wq_data_pipeline_spark.operators.series_qc import (
        DEFAULT_PASSES,
        BandPassCfg,
        sentemqc_series,
    )
    from wq_data_pipeline_spark.operators.sentem import TRI5_WEIGHTS

    stat, window = last
    cfg = BandPassCfg(window=window, scale=2.2, top_add=0.3, bottom_sub=0.1, stat=stat)
    passes = (*DEFAULT_PASSES[:-1], cfg)
    rng = np.random.default_rng(17)
    n = 1500
    v = rng.normal(12.0, 1.5, n)
    v[rng.choice(n, 60, replace=False)] = np.nan  # scattered NULLs
    v[400:420] = np.nan  # a gap wider than every narrow window
    v[[1, 3, n - 2]] = np.nan  # sparse series edges
    v[900:903] = -1.0  # non-positive -> pre-masked

    with np.errstate(invalid="ignore"):
        _, top, bottom = sentemqc_series(v, passes)
    s = pd.Series(v).where(lambda x: x > 0)
    if stat == "tri5":
        ma, sd = _tri5_reference(s.to_numpy(), TRI5_WEIGHTS)
    else:
        r = s.rolling(window, center=True, min_periods=max(3, math.ceil(window * 0.3)))
        ma = (r.median() if stat == "median" else r.mean()).to_numpy()
        sd = r.std(ddof=0).to_numpy()
    ref_top = ma + cfg.top_add + cfg.scale * sd
    ref_bottom = ma - cfg.bottom_sub - cfg.scale * sd
    for got, ref in ((top, ref_top), (bottom, ref_bottom)):
        assert np.array_equal(np.isnan(got), np.isnan(ref)), "guard differs"
        assert not np.isnan(got).all()
        if window < 960:
            assert np.isnan(got).any(), "fixture must exercise the min-periods guard"
        np.testing.assert_allclose(got, ref, rtol=1e-9, atol=1e-9, equal_nan=True)


def _tri5_reference(v, weights):
    """The reference's triangular 5-point mean and population std
    (scripts/sentemqc.py:31-39): weighted over the finite taps, NaN
    under 3 of them."""
    n = len(v)
    ma, sd = np.full(n, np.nan), np.full(n, np.nan)
    for i in range(n):
        taps = [(v[j], weights[j - i + 2]) for j in range(i - 2, i + 3) if 0 <= j < n]
        vals = np.array([x for x, _ in taps if np.isfinite(x)])
        wts = np.array([w for x, w in taps if np.isfinite(x)])
        if len(vals) >= 3:
            ma[i] = (vals * wts).sum() / wts.sum()
            sd[i] = np.sqrt((wts * (vals - ma[i]) ** 2).sum() / wts.sum())
    return ma, sd
