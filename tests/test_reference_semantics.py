"""Golden-replication tests (SURVEY §5.2 item 2): run the engine's QC
pipeline and Column-algebra detectors against an independent pandas
reimplementation of the reference's semantics on the same fixture —
covers the pieces the DuckDB oracle can't see (full DAG composition,
nitrate/calibration paths)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

KEYS = ["station", "variable"]


@pytest.fixture(scope="module")
def qc_fixture():
    rng = np.random.default_rng(21)
    n = 3000
    ts = pd.date_range("2024-01-01", periods=n, freq="15min")
    v = rng.normal(12, 2, n)
    v[40:60] = -9999.0          # active sentinel (20 hits)
    # inactive sentinel: 2 hits < 5 AND 2/2981 rows = 0.067% < 0.1%
    # (3 hits would be 0.1006% — over the frac threshold and masked)
    v[100:102] = -99.0
    v[500:540] = 3.3            # 10h flat run
    dup_ts = ts[900]            # duplicate timestamp with two values
    pdf = pd.DataFrame({"station": "s", "variable": "x", "ts": ts, "value": v})
    pdf = pd.concat(
        [pdf, pd.DataFrame({"station": ["s"], "variable": ["x"], "ts": [dup_ts], "value": [99.0]})]
    ).sort_values("ts").reset_index(drop=True)
    # 5h gap
    mask = (pdf["ts"] < ts[2000]) | (pdf["ts"] >= ts[2000] + pd.Timedelta(hours=5))
    return pdf[mask].reset_index(drop=True)


def _pandas_reference_clean(pdf: pd.DataFrame) -> pd.Series:
    """Independent reimplementation of the reference's clean deriv:
    sentinel mask (count>=5 or frac>=0.1%) -> dup median -> gap>2h null
    (scripts/ufz_water_qc_pipeline.py:158-189, 666-675 semantics)."""
    s = pdf.set_index("ts")["value"].astype(float)
    for sent in (-9.0, -99.0, -999.0, -9999.0):
        cnt = int((s == sent).sum())
        if cnt >= 5 or cnt / len(s) >= 0.001:
            s = s.mask(s == sent, np.nan)
    s = s.groupby(level=0).median()
    gaps = s.index.to_series().diff() > pd.Timedelta(hours=2)
    s[gaps] = np.nan
    return s


@pytest.fixture(scope="module")
def qc_fixture_outputs(spark, qc_fixture):
    """The QC pipeline (default config) over ``qc_fixture``."""
    from wq_data_pipeline_spark.plans.qc_pipeline import QCConfig, run_qc_pipeline

    return run_qc_pipeline(spark.createDataFrame(qc_fixture), QCConfig())


def test_clean_stage_matches_pandas_reference(qc_fixture, qc_fixture_outputs):
    got = qc_fixture_outputs.timeseries.orderBy("ts").select("ts", "clean").toPandas()
    exp = _pandas_reference_clean(qc_fixture)
    assert len(got) == len(exp)
    assert np.allclose(
        got["clean"].to_numpy(dtype=float), exp.to_numpy(), equal_nan=True, rtol=1e-12
    )
    # the inactive sentinel must have survived
    assert (got["clean"] == -99.0).sum() == 2


def test_flat_run_matches_pandas_reference(qc_fixture, qc_fixture_outputs):
    """The pipeline's flat-run events vs the reference convention: eq =
    isclose to predecessor, end = first row after the run (:217)."""
    ev = qc_fixture_outputs.events.filter("type = 'flat_values'").collect()

    s = _pandas_reference_clean(qc_fixture)
    eq = np.zeros(len(s), dtype=bool)
    vals = s.to_numpy()
    eq[1:] = np.isfinite(vals[1:]) & np.isfinite(vals[:-1]) & (
        np.abs(vals[1:] - vals[:-1]) <= 0.0
    )
    # islands of eq
    runs = []
    i = 0
    while i < len(eq):
        if eq[i]:
            j = i
            while j + 1 < len(eq) and eq[j + 1]:
                j += 1
            start, endi = s.index[i], (s.index[j + 1] if j + 1 < len(s) else s.index[j])
            hours = (endi - start).total_seconds() / 3600
            if hours >= 2.0:
                runs.append((start, endi, hours, vals[i]))
            i = j + 1
        else:
            i += 1
    assert len(ev) == len(runs) == 1
    g, r = ev[0], runs[0]
    assert pd.Timestamp(g.start) == r[0] and pd.Timestamp(g.end) == r[1]
    assert abs(g.hours - r[2]) < 1e-9 and abs(g.value - r[3]) < 1e-12


def test_sentem_nitrate_and_calibration_path(spark):
    """P4 calibration + P5 nitrate conversion through the EP3 runner:
    NO3 input gets its offset, then is converted to N (×14/62) before
    banding. On the EP3 output ``obs_in`` and ``value_masked`` are in
    input (NO3) units and the bands come back in NO3 units, so on
    average they sit either side of the accepted values. Code 157787's passes accept
    the bulk of a clean Gaussian series (2477034's run-4 band, sf 0.3,
    flags about a quarter of one)."""
    from wq_data_pipeline_spark.plans.sentem_pipeline import SentemVar, run_sentemqc_plan

    rng = np.random.default_rng(8)
    n = 1200
    ts = pd.date_range("2024-01-01", periods=n, freq="15min")
    no3 = rng.normal(20, 1.0, n)
    pdf = pd.DataFrame({"station": "s", "variable": "no3", "ts": ts, "value": no3})
    sdf = spark.createDataFrame(pdf)
    var = SentemVar("no3", code=157787, is_nitrate=True, calibration_offset=0.5)
    out = run_sentemqc_plan(sdf, [var]).orderBy("ts").collect()
    assert abs(out[0].obs_in - (no3[0] + 0.5)) < 1e-12
    ok = [r for r in out if not r.is_flagged]
    assert len(ok) > 0.9 * n
    # NO3 units (~20.5 ± 1.0), not N (~4.6): ±4σ bound
    assert all(16.5 < r.value_masked < 24.5 for r in ok)
    banded = [r for r in ok if r.qcband_top is not None]
    assert len(banded) > 0.9 * len(ok)
    cols = ("qcband_bottom", "value_masked", "qcband_top")
    mean = {c: np.mean([r[c] for r in banded]) for c in cols}
    assert mean["qcband_bottom"] < mean["value_masked"] < mean["qcband_top"], mean


def test_prefix_rolling_matches_direct():
    """The SentemQC kernel's O(n) prefix-sum rolling mean/std must agree
    with its direct frame sums to float precision (incl. null gaps,
    series edges, the even-window left-heavy frame, and min_periods)."""
    from wq_data_pipeline_spark.operators import series_qc as Q
    from wq_data_pipeline_spark.operators.windows import centered_bounds

    rng = np.random.default_rng(5)
    n = 4000
    v = rng.normal(1000.0, 3.0, n)  # large offset stresses cancellation
    v[500:700] = np.nan  # a long null gap
    v[::97] = np.nan  # scattered nulls
    for w in (48, 960):
        minp = max(3, math.ceil(w * 0.3))
        lo, hi = centered_bounds(w)
        with np.errstate(invalid="ignore", divide="ignore"):
            s, _ = Q._frame_sum(v, lo, hi)
            c, m2 = Q._frame_moments(v, lo, hi)
            ok = c >= minp
            a_ma = np.where(ok, s / c, np.nan)
            a_sd = np.where(ok, np.sqrt(m2 / c), np.nan)
            b_ma, b_sd = Q._prefix_mean_std(Q._prefix_sums(v), w, minp)
        assert np.array_equal(np.isnan(a_ma), np.isnan(b_ma)), f"minp mask differs at w={w}"
        assert not np.isnan(a_ma).all()
        np.testing.assert_allclose(a_ma, b_ma, rtol=1e-9, atol=1e-9, equal_nan=True)
        np.testing.assert_allclose(a_sd, b_sd, rtol=1e-7, atol=1e-9, equal_nan=True)


def test_robust_z_pandas_engine_matches_window(spark):
    """The applyInPandas robust-z engine must agree with the window
    engine to float identity (same exact medians) including null gaps
    and MAD==0 plateaus."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from wq_data_pipeline_spark.operators.detectors import with_robust_z

    rng = np.random.default_rng(9)
    n = 3000
    ts = pd.date_range("2024-01-01", periods=n, freq="15min")
    v = rng.normal(50.0, 4.0, n)
    v[400:600] = np.nan
    v[800:950] = 7.0  # constant plateau -> MAD == 0 -> NULL z
    v[::53] = np.nan
    pdf = pd.DataFrame({"station": "s", "variable": "x", "ts": ts, "value": v})
    df = spark.createDataFrame(pdf)
    a = (
        with_robust_z(df, "value", 96, out="z", engine="window")
        .orderBy("ts").select("z").toPandas()["z"]
    )
    b = (
        with_robust_z(df, "value", 96, out="z", engine="pandas")
        .orderBy("ts").select("z").toPandas()["z"]
    )
    assert a.isna().equals(b.isna())
    np.testing.assert_allclose(a, b, rtol=1e-12, atol=1e-12, equal_nan=True)


def _ref_plateau(s: pd.Series) -> pd.Series:
    """Reference flat-run interval mask (_fallback_flag_plateau /
    _mask_from_runs, scripts/ufz_water_qc_pipeline.py:392-407): runs of
    rows equal to their predecessor, lasting >= 2h up to the first row
    after the run (the run's own last row at series end), masked from
    run start to that row."""
    vals = s.to_numpy()
    eq = np.zeros(len(s), dtype=bool)
    eq[1:] = (
        np.isfinite(vals[1:]) & np.isfinite(vals[:-1])
        & (np.abs(vals[1:] - vals[:-1]) <= 0.0)
    )
    flat = np.zeros(len(s), dtype=bool)
    i = 0
    while i < len(eq):
        if eq[i]:
            j = i
            while j + 1 < len(eq) and eq[j + 1]:
                j += 1
            endi = j + 1 if j + 1 < len(s) else j
            hours = (s.index[endi] - s.index[i]).total_seconds() / 3600
            if hours >= 2.0:
                flat[i : endi + 1] = True
            i = j + 1
        else:
            i += 1
    return pd.Series(flat, index=s.index)


def _ref_isolated(s: pd.Series) -> pd.Series:
    """Reference isolated-group mask (_fallback_flag_isolated,
    scripts/ufz_water_qc_pipeline.py:430-453): finite row groups of
    <= 2 points with a > 3h index gap on BOTH sides; a group at either
    series edge has no gap on that side."""
    vals = s.to_numpy()
    finite = np.isfinite(vals)
    t = s.index.view("int64")
    big_gap = np.concatenate(([False], np.diff(t) > int(3 * 3600 * 1e9)))
    iso = np.zeros(len(s), dtype=bool)
    i = 0
    while i < len(finite):
        if finite[i]:
            j = i
            while j + 1 < len(finite) and finite[j + 1]:
                j += 1
            left_big = i > 0 and big_gap[i]
            right_big = (j + 1 < len(big_gap)) and big_gap[j + 1]
            if (j - i + 1) <= 2 and left_big and right_big:
                iso[i : j + 1] = True
            i = j + 1
        else:
            i += 1
    return pd.Series(iso, index=s.index)


def _ref_fallback_masks(s: pd.Series, lo: float, hi: float) -> dict[str, pd.Series]:
    """Pandas reimplementation of the reference's COMPLETE no-SaQC
    fallback suite (apply_saqc_suite else-branch,
    scripts/ufz_water_qc_pipeline.py:566-577) at the reference's
    parameters converted at 15-min step: range, missing,
    constants/plateau('2h' flat-run interval mask incl. first row
    after the run, :392-407), variance('6h'=24pts, 1e-12, :409-413),
    zscore('24h'=96pts, 4.0, :415-422), jumps(5.0, :424-428),
    isolated('3h' gap, '30min'=2pts group, :430-453); unilof == the
    zscore mask (:455-457)."""
    masks = {}
    masks["range"] = ((s < lo) | (s > hi)).fillna(False)
    masks["missing"] = s.isna()
    # plateau/constants: flat runs >= 2h, mask start..end (end = first
    # row after the run)
    masks["plateau"] = _ref_plateau(s)
    k6, k24 = 24, 96
    masks["variance"] = (
        s.rolling(k6, min_periods=max(3, k6 // 3), center=True).var() <= 1e-12
    ).fillna(False)
    med = s.rolling(k24, min_periods=max(5, k24 // 3), center=True).median()
    mad = (s - med).abs().rolling(k24, min_periods=max(5, k24 // 3), center=True).median()
    z = 0.6745 * (s - med) / mad.replace(0, np.nan)
    masks["zscore"] = (z.abs() >= 4.0).fillna(False)
    masks["jumps"] = (s.diff().abs() >= 5.0).fillna(False)
    # isolated: finite row-groups <= 2 points with > 3h index gap on
    # BOTH sides
    masks["isolated"] = _ref_isolated(s)
    return masks


def test_full_suite_flag_stage_matches_pandas_reference(spark):
    """The pipeline's full-suite flags (``QCConfig(full_suite=True)``)
    must reproduce the reference's complete 9-detector fallback OR
    (0/255 codes) row-for-row on a fixture that exercises every
    detector.

    The gap-null threshold is raised to 6h: under the default 2h any
    index gap large enough for the isolated detector (>3h) has already
    nulled the group's first row, so isolated can never fire — true of
    the reference's own composition (gap-null at :673-675 precedes
    apply_saqc_suite at :687) and verified here by using 4h gaps that
    null nothing at the 6h setting."""
    from wq_data_pipeline_spark.plans.qc_pipeline import QCConfig, run_qc_pipeline

    rng = np.random.default_rng(77)
    n = 2000
    ts = pd.date_range("2024-01-01", periods=n, freq="15min")
    v = rng.normal(12, 2, n)
    v[300:340] = 3.3       # flat run -> plateau/constants + variance
    v[800] = 50.0          # spike -> zscore + jumps + range(hi=40)
    # ONE -99.0 hit: 1 < 5 hits AND 1/1938 = 0.05% < 0.1%, so the
    # sentinel stays INACTIVE and the value survives cleaning to
    # exercise range-low (two hits would be 0.103% — active, masked
    # to NaN, and the lo comparison would have no coverage)
    v[150] = -99.0
    # isolated: the reference's RLE runs over ROW order, so the group
    # needs NaN-valued neighbor rows that sit >3h away in time — NaN
    # sentinels at 1184/1217 with 4h of rows carved between them and
    # the finite 2-point group (1200, 1201); 4h < the 6h gap-null so
    # the group itself survives cleaning
    v[1184] = np.nan
    v[1217] = np.nan
    pdf = pd.DataFrame({"station": "s", "variable": "x", "ts": ts, "value": v})
    drop = (
        list(range(1185, 1200)) + list(range(1202, 1217))
        + list(range(1600, 1632))  # 8h gap -> gap-null -> missing
    )
    pdf = pdf.drop(index=drop).reset_index(drop=True)

    cfg = QCConfig(
        range_map={"x": (0.0, 40.0)}, full_suite=True, max_gap_seconds=6 * 3600.0
    )
    got = (
        run_qc_pipeline(spark.createDataFrame(pdf), cfg)
        .timeseries.orderBy("ts")
        .select("ts", "saqc_flag")
        .toPandas()
    )

    # pandas clean at the 6h gap threshold (reference :673-675 with
    # max_gap='6h'); sentinel/dup handling as _pandas_reference_clean
    s = pdf.set_index("ts")["value"].astype(float)
    for sent in (-9.0, -99.0, -999.0, -9999.0):
        cnt = int((s == sent).sum())
        if cnt >= 5 or cnt / len(s) >= 0.001:
            s = s.mask(s == sent, np.nan)
    s = s.groupby(level=0).median()
    s[s.index.to_series().diff() > pd.Timedelta(hours=6)] = np.nan
    masks = _ref_fallback_masks(s, 0.0, 40.0)
    combined = np.zeros(len(s), dtype=bool)
    for m in masks.values():
        combined |= m.to_numpy()
    exp = np.where(combined, 255, 0)

    assert len(got) == len(exp)
    mismatch = got["saqc_flag"].to_numpy() != exp
    assert not mismatch.any(), (
        f"{mismatch.sum()} rows differ; first at "
        f"{got['ts'][mismatch.argmax()]}"
    )
    # every planted artefact must have fired its detector
    for name in ("range", "missing", "plateau", "variance", "zscore", "jumps", "isolated"):
        assert masks[name].any(), f"fixture never triggers {name}"
    # ...and range must fire on BOTH bounds (the -99 survivor covers lo)
    assert bool(masks["range"][s < 0.0].any()), "range-low never exercised"
    assert bool(masks["range"][s > 40.0].any()), "range-high never exercised"


def _series_frame(spark, series: dict[str, list[tuple[pd.Timestamp, float | None]]]):
    """One (station 's', variable) series per dict entry; ``None``
    values become SQL NULLs."""
    rows = [("s", var, t.to_pydatetime(), v) for var, pts in series.items() for t, v in pts]
    return spark.createDataFrame(rows, "station string, variable string, ts timestamp, value double")


def _flags_by_series(df, out: str) -> dict[str, list[bool]]:
    got: dict[str, list[bool]] = {}
    for r in df.orderBy("variable", "ts").select("variable", out).collect():
        got.setdefault(r[0], []).append(r[1])
    return got


def _ref_series(pts) -> pd.Series:
    return pd.Series(
        [np.nan if v is None else v for _, v in pts], index=pd.DatetimeIndex([t for t, _ in pts])
    )


def test_flat_run_mask_edge_cases_match_pandas_reference(spark):
    """flat_run_mask vs the reference's run-interval mask at its edges:
    a run followed by a NULL row, two adjacent qualifying runs, a run
    just under ``min_hours`` and a run at the very end of a series
    (no row after it), plus a run at a series start."""
    from wq_data_pipeline_spark.operators.detectors import flat_run_mask

    ts = pd.date_range("2024-01-01", periods=80, freq="15min")
    x = [round(10.0 + 0.37 * i, 2) for i in range(80)]
    x[5:15] = [3.0] * 10  # eq rows 6..14: 2.25h to the NULL row 15
    x[15] = None
    x[20:29] = [4.0] * 9  # eq rows 21..28: exactly 2h to row 29
    x[29:38] = [5.0] * 9  # eq rows 30..37: 2h; row 29 ends run 4.0
    x[45:53] = [6.0] * 8  # eq rows 46..52: 1.75h, under min_hours
    x[70:80] = [7.0] * 10  # eq rows 71..79: 2h to the series' last row
    y = [round(20.0 - 0.41 * i, 2) for i in range(30)]
    y[0:10] = [1.0] * 10  # eq rows 1..9: the series' first row is never in a run
    series = {
        "x": list(zip(ts, x)),
        "y": list(zip(ts[:30], y)),
    }
    got = _flags_by_series(
        flat_run_mask(_series_frame(spark, series), "value", KEYS, "ts", 0.0, 2.0, out="f"),
        "f",
    )
    for var, pts in series.items():
        assert got[var] == _ref_plateau(_ref_series(pts)).tolist(), var
    want_x = set(range(6, 16)) | set(range(21, 39)) | set(range(71, 80))
    assert {i for i, f in enumerate(got["x"]) if f} == want_x
    assert {i for i, f in enumerate(got["y"]) if f} == set(range(1, 11))


def test_mask_sentinels_per_series_active_sets(spark):
    """Each series masks only its own active sentinels: in 'a' -9999 is
    active by count (5 hits, 2.5% < 5%), in 'b' -9 is active by
    fraction (2 hits < 5, 5% of 40 rows); the other sentinel of each
    series stays. The aggregate ``active_sentinel_array`` agrees with
    the rows that were masked."""
    from wq_data_pipeline_spark.operators.clean import active_sentinel_array, mask_sentinels

    ts = pd.date_range("2024-01-01", periods=200, freq="15min")
    a = [float(i % 17) for i in range(200)]
    for i in (3, 50, 90, 130, 170):
        a[i] = -9999.0
    a[20] = a[21] = -99.0  # 2 hits, 1%: inactive
    b = [float(i % 11) + 0.5 for i in range(40)]
    b[4] = b[30] = -9.0
    b[12] = -9999.0  # 1 hit, 2.5%: inactive
    series = {"a": list(zip(ts, a)), "b": list(zip(ts[:40], b))}
    df = _series_frame(spark, series)
    masked = mask_sentinels(df, KEYS, "value", min_count=5, min_frac=0.05)
    got: dict[str, list[float | None]] = {}
    for r in masked.orderBy("variable", "ts").select("variable", "value").collect():
        got.setdefault(r[0], []).append(r[1])
    for var, pts in series.items():
        s = pd.Series([v for _, v in pts])
        want = s.copy()
        for sent in (-9.0, -99.0, -999.0, -9999.0):
            cnt = int((s == sent).sum())
            if cnt >= 5 or cnt / len(s) >= 0.05:
                want = want.mask(s == sent)
        assert got[var] == [None if np.isnan(v) else v for v in want], var
    assert got["a"].count(None) == 5 and got["a"].count(-99.0) == 2
    assert got["b"].count(None) == 2 and got["b"].count(-9999.0) == 1
    active = {
        r.variable: r._active_sentinels
        for r in df.groupBy(*KEYS)
        .agg(active_sentinel_array(value="value", min_count=5, min_frac=0.05).alias("_active_sentinels"))
        .collect()
    }
    assert active == {"a": [-9999.0], "b": [-9.0]}


def test_isolated_groups_edges_and_size_match_pandas_reference(spark):
    """detect_isolated_groups vs the reference: groups at the series
    start and end are never flagged (no gap on that side), a group of
    ``max_group_points + 1`` is not flagged, and 1- and 2-point groups
    with > 3h gaps on both sides are."""
    from wq_data_pipeline_spark.operators.detectors import detect_isolated_groups

    t0 = pd.Timestamp("2024-01-01")
    layout = [  # (hours after t0, finite?)
        (0.0, True), (0.25, True),  # start-edge group
        (5.0, False),
        (9.0, True), (9.25, True),  # 2 points, 4h / 3.75h gaps: isolated
        (13.0, False),
        (17.0, True), (17.25, True), (17.5, True),  # 3 = max + 1 points
        (22.0, False),
        (27.0, True),  # 1 point, 5h / 4h gaps: isolated
        (31.0, False),
        (36.0, True), (36.25, True),  # end-edge group
    ]
    pts = [
        (t0 + pd.Timedelta(hours=h), float(i) if fin else None)
        for i, (h, fin) in enumerate(layout)
    ]
    series = {"x": pts, "y": pts[2:]}  # 'y' opens with a NULL row
    got = _flags_by_series(
        detect_isolated_groups(_series_frame(spark, series), "value", KEYS, "ts", 2, 3 * 3600.0),
        "flag_isolated",
    )
    for var, p in series.items():
        assert got[var] == _ref_isolated(_ref_series(p)).tolist(), var
    assert {i for i, f in enumerate(got["x"]) if f} == {3, 4, 10}


def _ref_quant_step(x, atol=1e-3):
    """Direct reimplementation of reference quant_step_estimate
    (scripts/ufz_water_qc_pipeline.py:129-142)."""
    v = pd.Series(np.asarray(x, dtype=float))
    d = v.diff().dropna().abs()
    d = d[(d > 0) & np.isfinite(d)]
    if d.empty:
        return np.nan
    q = np.quantile(d, [0.1, 0.25, 0.5, 0.75, 0.9])
    cand = [q[0], q[1], q[2]] + [q[2] / i for i in range(2, 10)]
    cand = [c for c in cand if c > 0]
    best = np.nan
    besth = 0
    for c in cand:
        h = np.mean(np.isclose((d / c) - np.round(d / c), 0, atol=atol))
        if h > besth:
            besth = h
            best = c
    return best if besth > 0.7 else np.nan


def test_quant_step_matches_reference(spark):
    """quant_step_estimate must reproduce the reference's full
    candidate set (q10/q25/q50 + q50 sub-multiples) and first-best
    tie rule on three regimes: clean quantization, coarse jumps where
    only a q50/i sub-multiple recovers the fine step, and
    unquantized noise (rejected)."""
    from wq_data_pipeline_spark.operators.stats import quant_step_estimate

    rng = np.random.default_rng(3)
    ts = pd.date_range("2024-01-01", periods=800, freq="15min")
    series = {
        # random walk on a strict 0.05 grid with 1-3 quantum steps ->
        # q10 of the |diff| distribution IS the quantum
        "grid": np.cumsum(rng.integers(1, 4, 800)) * 0.05,
        # coarse: most jumps are 2-4 quanta of 0.02 -> the median diff
        # overshoots the true step; a q50/i candidate must recover it
        "coarse": np.cumsum(rng.integers(2, 5, 800)) * 0.02,
        # white noise: no quantization, score must stay <= 0.7 -> NULL
        "noise": rng.normal(10, 1, 800),
    }
    frames = [
        pd.DataFrame({"station": "s", "variable": name, "ts": ts, "value": v})
        for name, v in series.items()
    ]
    df = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    got = {
        r.variable: (r.quant_step, r.quant_score)
        for r in quant_step_estimate(df).collect()
    }
    for name, v in series.items():
        expected = _ref_quant_step(v)
        step = got[name][0]
        if np.isnan(expected):
            assert step is None, f"{name}: expected rejection, got {step}"
        else:
            assert step == pytest.approx(expected, rel=1e-9), (
                f"{name}: {step} != reference {expected}"
            )
    assert got["noise"][0] is None
    assert got["grid"][0] is not None and got["coarse"][0] is not None


def _ref_binary_switches(v, idx, zero_tol=1e-12):
    """Direct reimplementation of reference detect_binary_switches +
    events_from_binary (scripts/ufz_water_qc_pipeline.py:192-205,
    642-649)."""
    v = np.asarray(v, dtype=float)
    z = np.isfinite(v) & (np.abs(v) <= zero_tol)
    events = []
    i = 0
    while i < len(z):
        if z[i]:
            j = i
            while j + 1 < len(z) and z[j + 1]:
                j += 1
            a, b = i, j
            pre, post = max(0, a - 1), min(len(v) - 1, b + 1)
            preval = v[pre] if np.isfinite(v[pre]) else np.nan
            postval = v[post] if np.isfinite(v[post]) else np.nan
            if (
                np.isfinite(preval)
                and np.isfinite(postval)
                and (preval != 0 or postval != 0)
            ):
                events.append(
                    (idx[a], idx[b], idx[pre], idx[post], preval, postval)
                )
            i = j + 1
        else:
            i += 1
    return events


def _pipeline_events(df, event_type: str):
    """The QC pipeline's events of one type over ``df``."""
    from wq_data_pipeline_spark.plans.qc_pipeline import QCConfig, run_qc_pipeline

    events = run_qc_pipeline(df, QCConfig(apply_sentem=False)).events
    return events.filter(F.col("type") == event_type)


def test_binary_switches_match_reference(spark):
    """W4 events vs the reference row-for-row, from both the catalog's
    Column-algebra detector and the QC pipeline, covering the edge
    conventions: run at the series start (clamped pre = own endpoint),
    run at the end, NaN neighbor suppression, and an all-zero
    neighborhood (no event: pre==post==0)."""
    from wq_data_pipeline_spark.operators.detectors import detect_binary_switches

    n = 300
    ts = pd.date_range("2024-02-01", periods=n, freq="15min")
    v = np.full(n, 3.7)
    v[:4] = 0.0            # run at series start -> pre clamps to v[0]=0
    v[50:55] = 0.0         # interior run, nonzero neighbors
    v[100:103] = 0.0
    v[99] = np.nan         # NaN pre-neighbor -> suppressed
    v[200:204] = 0.0
    v[204] = np.nan        # NaN post-neighbor -> suppressed
    v[n - 3:] = 0.0        # run at series end -> post clamps to v[-1]=0
    pdf = pd.DataFrame({"station": "s", "variable": "x", "ts": ts, "value": v})
    df = spark.createDataFrame(pdf)
    exp = _ref_binary_switches(v, ts)
    for events in (detect_binary_switches(df), _pipeline_events(df, "binary_switch")):
        got = events.orderBy("start").collect()
        assert len(got) == len(exp), (len(got), len(exp))
        for g, e in zip(got, exp):
            assert pd.Timestamp(g.start) == e[0] and pd.Timestamp(g.end) == e[1]
            assert pd.Timestamp(g.pre) == e[2] and pd.Timestamp(g.post) == e[3]
            assert g.pre_val == pytest.approx(e[4]) and g.post_val == pytest.approx(e[5])


def _ref_flat_slopes(v, idx, min_hours=2.0, win=25, abs_slope=0.0):
    """Direct reimplementation of reference detect_flat_slopes over
    rolling_lin_slope (scripts/ufz_water_qc_pipeline.py:105-123,
    223-236)."""
    v = np.asarray(v, dtype=float)
    t = (idx.view("int64").astype(float) - idx.view("int64").astype(float).min()) / 1e9
    n = v.size
    minp = max(5, win // 3)
    h = win // 2
    slope = np.full(n, np.nan)
    for i in range(n):
        a, b = max(0, i - h), min(n, i + h + 1)
        seg, ts_seg = v[a:b], t[a:b]
        m = np.isfinite(seg)
        if m.sum() >= minp:
            X = np.vstack([ts_seg[m], np.ones(m.sum())]).T
            slope[i] = np.linalg.lstsq(X, seg[m], rcond=None)[0][0]
    eq = np.isfinite(slope) & (np.abs(slope) <= abs_slope)
    runs = []
    i = 0
    while i < n:
        if eq[i]:
            j = i
            while j + 1 < n and eq[j + 1]:
                j += 1
            endi = j + 1 if j + 1 < n else j
            hours = (idx[endi] - idx[i]).total_seconds() / 3600
            if hours >= 2.0:
                runs.append((idx[i], idx[endi], hours))
            i = j + 1
        else:
            i += 1
    return runs


def test_flat_slopes_match_reference(spark):
    """W6 events row-for-row vs the reference numpy reimplementation,
    from both the Column-algebra detector and the QC pipeline:
    constant plateaus (slope ~1e-17, far inside the 1e-10 threshold)
    between clearly-sloped ramps (~1e-3 s^-1, far outside) — slopes
    from the closed-form window algebra and numpy lstsq agree on
    which rows are flat, and the run boundaries use the
    first-row-after-run end convention."""
    from wq_data_pipeline_spark.operators.detectors import detect_flat_slopes

    n = 600
    ts = pd.date_range("2024-03-01", periods=n, freq="15min")
    v = np.linspace(0.0, 600.0, n).copy()  # ramp: slope ~1.1e-3 / s
    v[100:150] = v[100]   # 12.25h plateau
    v[300:330] = v[300]   # 7h plateau
    v[400:408] = v[400]   # short plateau: slope window still sees ramp
    v[120] = np.nan       # a null inside a plateau
    pdf = pd.DataFrame({"station": "s", "variable": "x", "ts": ts, "value": v})
    df = spark.createDataFrame(pdf)
    exp = _ref_flat_slopes(v, ts, min_hours=2.0, win=25, abs_slope=1e-10)
    column = detect_flat_slopes(
        df, "value", KEYS, "ts", window_points=25, abs_slope=1e-10, min_hours=2.0
    )
    for events in (column, _pipeline_events(df, "flat_slopes")):
        got = events.orderBy("start").collect()
        assert len(got) == len(exp) > 0, (len(got), len(exp))
        for g, e in zip(got, exp):
            assert pd.Timestamp(g.start) == e[0] and pd.Timestamp(g.end) == e[1]
            assert abs(g.hours - e[2]) < 1e-9


def test_seasonal_stats_match_reference_on_irregular_cadence(spark):
    """A7 coverage vs the reference's INTEGER expected-point rule
    (expected = max(1, round(span/step + 1)),
    scripts/ufz_water_qc_pipeline.py:265-275): on an irregular cadence
    the rounded denominator differs from the continuous span/step + 1
    the pre-r4 engine used — this pins the reference semantics."""
    from wq_data_pipeline_spark.operators.stats import seasonal_stats

    rng = np.random.default_rng(17)
    # irregular: 15-min base grid with jitter and dropped rows, spanning DJF+MAM
    base = pd.date_range("2024-01-10", periods=4000, freq="15min")
    keep = rng.random(4000) > 0.3
    ts = base[keep] + pd.to_timedelta(rng.integers(0, 300, keep.sum()), unit="s")
    v = rng.normal(5, 1, len(ts))
    v[::17] = np.nan
    pdf = pd.DataFrame({"station": "s", "variable": "x", "ts": ts, "value": v})
    got = {
        r.season: r
        for r in seasonal_stats(
            spark.createDataFrame(pdf), KEYS, "ts", "value", step_seconds=900.0
        ).collect()
    }

    step = pd.Timedelta(seconds=900)
    df = pdf.set_index("ts")
    season_of = lambda t: {12: "DJF", 1: "DJF", 2: "DJF", 3: "MAM", 4: "MAM",
                           5: "MAM", 6: "JJA", 7: "JJA", 8: "JJA"}.get(t.month, "SON")
    df["season"] = [season_of(t) for t in df.index]
    for s in sorted(set(df["season"])):
        sub = df[df["season"] == s]
        dur = (sub.index[-1] - sub.index[0]).total_seconds() + step.total_seconds()
        exp_pts = max(1, int(round(dur / step.total_seconds())))
        n, nnan = len(sub), int(sub["value"].isna().sum())
        cov = 100.0 * (n - nnan) / max(1, exp_pts)
        assert got[s].coverage_pct == pytest.approx(round(cov, 4), abs=1e-9), s
        assert got[s].nan_pct == pytest.approx(round(100.0 * nnan / n, 4), abs=1e-9), s


def test_decimal_stats_match_reference(spark):
    """A4 (fractional-part histogram + chi-square) and A5 (dominant
    2-decimal mode) vs direct reference reimplementations
    (scripts/ufz_water_qc_pipeline.py:125-127, 239-258), including
    NEGATIVE values where dec_frac's modf%1.0 wraps to [0,1). NaN
    inputs are excluded up front on both sides: the reference's A5
    rounds NaN then casts to int (platform-dependent garbage values) —
    a sanitized divergence, documented here."""
    from wq_data_pipeline_spark.operators.stats import (
        chi_square_uniform,
        decimal_histogram,
        dominant_decimals,
    )

    rng = np.random.default_rng(23)
    n = 2000
    ts = pd.date_range("2024-01-01", periods=n, freq="15min")
    # two-decimal grid with a planted dominant .25 fraction + negatives
    v = np.round(rng.normal(0, 30, n), 2)
    v[: n // 2] = np.floor(v[: n // 2]) + 0.25  # 50% share of .25
    pdf = pd.DataFrame({"station": "s", "variable": "x", "ts": ts, "value": v})
    df = spark.createDataFrame(pdf)

    # reference dec_frac + histogram + chisq fallback
    f = np.modf(v)[0] % 1.0
    h, _ = np.histogram(f, bins=np.linspace(0, 1, 11))
    e = np.full_like(h, h.mean(), dtype=float)
    ref_cs = float(np.sum((h - e) ** 2 / (e + 1e-9)))

    got_bins = {
        r.bin: r.bin_count for r in decimal_histogram(df, KEYS, "value").collect()
    }
    for b in range(10):
        assert got_bins.get(b, 0) == int(h[b]), (b, got_bins.get(b, 0), h[b])
    cs = chi_square_uniform([got_bins.get(b, 0) for b in range(10)])
    assert cs == pytest.approx(ref_cs, rel=1e-6)

    # reference find_long_unique_double_decimals
    fc = np.round(f * 100).astype(int)
    vals, cts = np.unique(fc, return_counts=True)
    j = int(np.argmax(cts))
    ref_dom, ref_frac = int(vals[j]), float(cts[j] / fc.size)

    got = dominant_decimals(df, KEYS, "value").collect()[0]
    assert got.mode_cents == ref_dom
    assert got.mode_frac == pytest.approx(round(ref_frac, 4), abs=1e-9)
    assert bool(got.dominant) == (ref_frac >= 0.6)


def _ref_gaussian(vals: list[float | None]) -> tuple[list, list]:
    """Pure-Python smoother: ffill then bfill, then 9 taps with weights
    exp(-k²/8), renormalized over the taps that exist (non-NULL, inside
    the series); smooth is NULL when none does."""
    filled, last = [], None
    for v in vals:
        last = v if v is not None else last
        filled.append(last)
    nxt = None
    for i in range(len(vals) - 1, -1, -1):
        nxt = vals[i] if vals[i] is not None else nxt
        if filled[i] is None:
            filled[i] = nxt
    smooth = []
    for i in range(len(vals)):
        num = den = 0.0
        for k in range(-4, 5):
            j = i + k
            if 0 <= j < len(vals) and filled[j] is not None:
                wt = math.exp(-(k * k) / 8.0)
                num += wt * filled[j]
                den += wt
        smooth.append(num / den if den > 0 else None)
    return filled, smooth


def test_gaussian_smooth_matches_python_reference(spark):
    """``windows.gaussian_smooth`` (behind w16_gaussian) against the
    pure-Python reference to 1e-12, and the QC kernel's
    ``series_qc.gaussian_smooth`` against it bit for bit: one series
    with leading and trailing NULL runs and an interior gap, and one
    all-NULL series (filled, smooth and residual stay NULL)."""
    from wq_data_pipeline_spark.operators.windows import gaussian_smooth

    t0 = pd.Timestamp("2024-01-01")
    series = {
        "a": [None, None, None, 4.0, 7.5, 6.0, None, None, None, 12.25,
              3.0, 9.5, 8.0, 1.0, 5.5, 6.5, 2.0, None, None],
        "b": [None] * 5,
    }
    rows = [
        ("s1", var, (t0 + pd.Timedelta(hours=i)).to_pydatetime(), v)
        for var, vals in series.items()
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "station STRING, variable STRING, ts TIMESTAMP, clean DOUBLE"
    )
    out = gaussian_smooth(df, "clean").orderBy("variable", "ts").collect()
    for var, vals in series.items():
        got = [r for r in out if r.variable == var]
        filled, smooth = _ref_gaussian(vals)
        assert [r.filled for r in got] == filled, var
        for r, f, s in zip(got, filled, smooth):
            if s is None:
                assert r.smooth is None and r.residual is None, (var, r)
            else:
                assert abs(r.smooth - s) <= 1e-12, (var, r, s)
                assert abs(r.residual - (f - s)) <= 1e-12, (var, r, s)
    assert all(r.smooth is None for r in out if r.variable == "b")
    # the per-series kernel's twin (the QC figures' smoother): the same
    # floats, bit for bit, NaN where the Column form is NULL
    from wq_data_pipeline_spark.operators import series_qc as Q

    for var, vals in series.items():
        got = [r for r in out if r.variable == var]
        x = np.array([np.nan if v is None else v for v in vals])
        for name, col in zip(("filled", "smooth", "residual"), Q.gaussian_smooth(x)):
            want = [np.nan if r[name] is None else r[name] for r in got]
            np.testing.assert_array_equal(col, want, err_msg=f"{var} {name}")
