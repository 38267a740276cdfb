"""S7 figure sinks: the reference per-variable figure set
(__00_raw .. __08_accepted, scripts/ufz_water_qc_pipeline.py:706-728)
and the sentemqc combined plot (scripts/sentemqc.py:117) rendered from
the pipeline's aggregate frames — bounded collects, stdlib SVG backend
in this container (matplotlib absent)."""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def qc_outputs(spark):
    from wq_data_pipeline_spark.plans.qc_pipeline import QCConfig, run_qc_pipeline

    rng = np.random.default_rng(7)
    n = 2000
    ts = pd.date_range("2024-01-01", periods=n, freq="15min")
    o2 = rng.normal(10, 1.5, n).clip(0.01)
    o2[300:330] = 5.55  # flat run
    pdf = pd.DataFrame(
        {"station": "stn1", "variable": "o2", "ts": ts, "value": o2}
    )
    long = spark.createDataFrame(pdf)
    return run_qc_pipeline(long, QCConfig(range_map={"o2": (0.0, 40.0)}))


def _assert_valid_svg(path):
    root = ET.parse(path).getroot()
    assert root.tag.endswith("svg")
    assert sum(1 for _ in root.iter()) > 5  # frame + content, not an empty shell


def test_qc_figure_set(qc_outputs, tmp_path):
    from wq_data_pipeline_spark.report import render_qc_figures

    paths = render_qc_figures(
        qc_outputs.timeseries,
        qc_outputs.events,
        qc_outputs.seasonal,
        str(tmp_path),
        max_points=300,
    )
    names = {os.path.basename(p) for p in paths}
    for suffix in (
        "00_raw",
        "01_clean",
        "02_decimal_hist",
        "03_quant_diffs",
        "04_flat_events",
        "05_gaussian_compare",
        "06_seasonal_coverage",
        "08_accepted",
    ):
        assert f"o2__{suffix}.svg" in names, f"missing figure {suffix}: {names}"
    for p in paths:
        assert os.path.getsize(p) > 200
        _assert_valid_svg(p)


def test_downsample_is_bounded(qc_outputs):
    """The scale contract: a series figure never collects more than
    max_points rows regardless of input size."""
    from wq_data_pipeline_spark.report.figures import bucketed_series

    d = qc_outputs.timeseries.filter(F.col("variable") == "o2")
    rows = bucketed_series(d, ["clean"], max_points=100)[("stn1", "o2")]
    assert 0 < len(rows) <= 101
    assert sum(r.n_clean for r in rows) == d.filter(F.col("clean").isNotNull()).count()
    # values survive the bucket-average (flat run keeps its level)
    vals = [r["clean"] for r in rows if r["clean"] is not None]
    assert any(abs(v - 5.55) < 0.5 for v in vals)


def test_sentemqc_combined_figure(spark, tmp_path):
    from wq_data_pipeline_spark.plans.sentem_pipeline import SentemVar, run_sentemqc_plan
    from wq_data_pipeline_spark.report import render_sentemqc_figure

    rng = np.random.default_rng(11)
    n = 1200
    ts = pd.date_range("2024-03-01", periods=n, freq="15min")
    v = rng.lognormal(1.0, 0.3, n)
    v[200:205] = 80.0  # spike band should flag
    pdf = pd.DataFrame(
        {"station": "stnA", "variable": "nitrate", "ts": ts, "value": v}
    )
    df = spark.createDataFrame(pdf)
    # the EP3 output carries the last pass's qcband_top/qcband_bottom
    sq = run_sentemqc_plan(df, [SentemVar("nitrate", code=2477034, is_nitrate=True)])
    p = render_sentemqc_figure(sq, str(tmp_path), "stnA", "nitrate", max_points=250)
    assert os.path.exists(p)
    _assert_valid_svg(p)
    with open(p) as f:
        svg = f.read()
    assert "Availability:" in svg and "Flagged:" in svg


def test_wrtds_figure_path(qc_outputs, tmp_path):
    """The opt-in WRTDS buster figure (07) renders end-to-end."""
    from wq_data_pipeline_spark.report import render_qc_figures

    paths = render_qc_figures(
        qc_outputs.timeseries,
        qc_outputs.events,
        qc_outputs.seasonal,
        str(tmp_path),
        max_points=200,
        include_wrtds=True,
    )
    names = {os.path.basename(p) for p in paths}
    assert "o2__07_wrtds_buster.svg" in names, names


def _four_series(spark):
    """2 stations x 2 variables, 400 rows each, one flat run per series."""
    rng = np.random.default_rng(5)
    ts = pd.date_range("2024-01-01", periods=400, freq="15min")
    frames = []
    for st in ("stn A", "stn B"):
        for var in ("o2", "ph"):
            v = rng.normal(10, 1, len(ts))
            v[100:120] = 9.5  # 5 h flat run -> a flat_values event
            frames.append(pd.DataFrame({"station": st, "variable": var, "ts": ts, "value": v}))
    return spark.createDataFrame(pd.concat(frames))


@pytest.fixture(scope="module")
def four_series_outputs(spark):
    from wq_data_pipeline_spark.plans.qc_pipeline import QCConfig, run_qc_pipeline

    return run_qc_pipeline(_four_series(spark), QCConfig(apply_sentem=False))


def test_qc_figures_per_station_do_not_collide(four_series_outputs, tmp_path):
    """Two stations sharing variable names get one figure set each,
    under ``<out>/<station>/`` with the reference basenames: every
    returned path is a distinct file on disk."""
    from wq_data_pipeline_spark.report import render_qc_figures

    out = four_series_outputs
    paths = render_qc_figures(
        out.timeseries, out.events, out.seasonal, str(tmp_path), max_points=100
    )
    assert len(paths) == 32 and len(set(paths)) == 32, paths
    assert all(os.path.isfile(p) for p in paths)
    for station in ("stn_A", "stn_B"):
        names = sorted(os.listdir(tmp_path / station))
        assert len(names) == 16, names
        assert "o2__00_raw.svg" in names and "ph__08_accepted.svg" in names, names


# sha256 of every figure of the 2 x 2 input (SVG backend), recorded
# from the per-series renderer that the grouped one had to match byte
# for byte; a change here is a change of figure bytes
FIGURE_SHA256 = {
    "stn_A/o2__00_raw.svg": "31fda300f267363028421651d0be96a65397acf0a1329779b7bf2acc18fb444f",
    "stn_A/o2__01_clean.svg": "9bba5e7cc82046d70f320d5fceab79a56a3ad4feb44724e71d7773de55a17372",
    "stn_A/o2__02_decimal_hist.svg": "0d31f2e641416e094a895c684e5a0640164d0a167c8646e5d764c8ee8f677ee7",
    "stn_A/o2__03_quant_diffs.svg": "cc38b233de428421731352fe6e6b1615c6e8e87d3a5bcad0b465e5be6817a3ae",
    "stn_A/o2__04_flat_events.svg": "5981023185b5ea5b295d140cdae9cc58559b63b460e702f46d4ff2d071e35689",
    "stn_A/o2__05_gaussian_compare.svg": "41aa4a1e5e9898ef7ef6ef2c241098a3ccbf12e510b590b0c15ce43b4307503f",
    "stn_A/o2__06_seasonal_coverage.svg": "b3ab9a35e9b66a3e9ff31d1fb437628b9b8ded168f77654e2ba452958172ae4d",
    "stn_A/o2__07_wrtds_buster.svg": "b6acce023ee434421c501ce35fc0be292c044a5f27f3be3b653f074a2790e22c",
    "stn_A/o2__08_accepted.svg": "7bd6b309a3d0c8c08615d284a26bd130d634c2b1cf7e8fda23182d00b97dce08",
    "stn_A/ph__00_raw.svg": "a35dc0ec6d8d07d2382549b48a816bfa83e4c7cce26e7f06393240aca3e18de2",
    "stn_A/ph__01_clean.svg": "482fe38721192c093d9da62a7b07bb84a69fec57270d2db3eb05d928cbec865a",
    "stn_A/ph__02_decimal_hist.svg": "8af137b1d3f538d8d7de5707b38107b1fc9b8e8281af4a7b9103926d5aa81089",
    "stn_A/ph__03_quant_diffs.svg": "d21c1b7286aec830a1b178357586271c669f1f9ba490346f6b77874ed872a35c",
    "stn_A/ph__04_flat_events.svg": "78a3569cd5c5caf5ce4bbed6813e6af4933f4264f83a60a0fa67764a5c83d9aa",
    "stn_A/ph__05_gaussian_compare.svg": "c60b4de0b3206fb91914f270e06f5527fcbf32ef4991bb58453bea54395c6086",
    "stn_A/ph__06_seasonal_coverage.svg": "f557a7199394044fb22de7dd79cb09e1975d1a2affa1b4037130a79c3a496939",
    "stn_A/ph__07_wrtds_buster.svg": "70b028f2bccc390652396ba7bfe8c4b94c5047ec350221d2ee803fde7cb6d5cf",
    "stn_A/ph__08_accepted.svg": "fa467d526c95f497eaa9ac3fee7ee9580e048f4b816e75a216dc30281829a876",
    "stn_B/o2__00_raw.svg": "cf1826a275bffbeadb047b9df2d69ec438ce8ca098b67d62b0bc122b5ca6492a",
    "stn_B/o2__01_clean.svg": "afa092f9952adc4a95925d45f08bf2029382a836758be6c004aaeee764678c8a",
    "stn_B/o2__02_decimal_hist.svg": "1511f9af26fdd94a1ec0dfd7aaed688eecbe24215230644d7b398b6b482e0239",
    "stn_B/o2__03_quant_diffs.svg": "8dcb41af819c1cb72c4ac41803d0bbd29b8453488d6255379b0fe14e67c0f63a",
    "stn_B/o2__04_flat_events.svg": "3e1d98ab0621d686ce594fe54dd74488c616e4f1dce9e83de291b11df200dd2c",
    "stn_B/o2__05_gaussian_compare.svg": "26e6bee090ca08b8d050c75c4104ed6c027c66811f36fd49d705eac07dd15f3a",
    "stn_B/o2__06_seasonal_coverage.svg": "0ef7d28ea647fe9e4afa5ff132eafdecde1786f137cd3d41df3469a3d0572d13",
    "stn_B/o2__07_wrtds_buster.svg": "f31eb5631a1b2f92c0ff8d657d101854e218b7cdd2ba0f068327d00e2e7f262b",
    "stn_B/o2__08_accepted.svg": "f8c3c02b0a32cce0b966ee16d3279e45cabef44bd5ba9f339116a5a47cc3c75f",
    "stn_B/ph__00_raw.svg": "d1f1a4b5b4f8fa340025a43faa5c786b8867ede1e60d31f60629c6c4ec1077cf",
    "stn_B/ph__01_clean.svg": "0d61153a4cc242985c1d3dd14c4b2afd72d1756b9c7ec03516f21de067c8ada2",
    "stn_B/ph__02_decimal_hist.svg": "7cd6259ea5687e12ce8f0d7fbdde646379c414295e1a6a9c22e9ba9f8de1ba91",
    "stn_B/ph__03_quant_diffs.svg": "1b45e8c05c5ee4299e6b115b08966d88f0d3eff21acd43f0fd4e9523e3c8a64a",
    "stn_B/ph__04_flat_events.svg": "11e3d4c778c015afb18c629efdeb19add56e54d567d3d0148e86a4c00a095ec9",
    "stn_B/ph__05_gaussian_compare.svg": "dc73d4c42b20c88ea1df954b983b141da37e1b128ca9db60ce9f6a44696e0cf2",
    "stn_B/ph__06_seasonal_coverage.svg": "7d39618197e32e2242953e87be32a9dc007f1705dce92c28e2edcf77ec9ad51b",
    "stn_B/ph__07_wrtds_buster.svg": "4a8929509017ab1107f8078ffaedd0b583fdc6560a99525249b0b3b1222fed5f",
    "stn_B/ph__08_accepted.svg": "39c8731cf6119e5a54fa0926bf5ebdff1b770f52a914541ba33a9f6aa2cb81e7",
}


def test_qc_figure_bytes_are_pinned(four_series_outputs, tmp_path):
    """Every figure file of a fixed 2-station x 2-variable input,
    figure 07 included, is byte-identical to the recorded render."""
    import hashlib
    import pathlib

    from wq_data_pipeline_spark.report import render_qc_figures
    from wq_data_pipeline_spark.report.figures import HAVE_MPL

    if HAVE_MPL:
        pytest.skip("the recorded digests are of the SVG backend")
    out = four_series_outputs
    paths = render_qc_figures(
        out.timeseries, out.events, out.seasonal, str(tmp_path), max_points=200,
        include_wrtds=True,
    )
    got = {
        os.path.relpath(p, tmp_path): hashlib.sha256(pathlib.Path(p).read_bytes()).hexdigest()
        for p in paths
    }
    assert got == FIGURE_SHA256


def test_qc_report_jobs_do_not_grow_with_series(spark, qc_outputs, four_series_outputs, tmp_path):
    """The report fires the same number of Spark jobs for 1 series as
    for 4: every figure input is one grouped collect."""
    from wq_data_pipeline_spark.report import render_qc_figures

    sc = spark.sparkContext
    jobs = []
    for name, out in (("one", qc_outputs), ("four", four_series_outputs)):
        group = f"test-report-jobs-{name}"
        sc.setJobGroup(group, group)
        try:
            render_qc_figures(out.timeseries, out.events, out.seasonal, str(tmp_path / name))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs[0] == jobs[1] and jobs[0] > 0, jobs


def test_qc_figures_null_station(spark, tmp_path):
    """A NULL station (what the CSV reader gives an empty station cell)
    is drawn under the directory the parquet sinks give it, from its
    own rows: its series figures equal those of the same values under
    a named station."""
    from wq_data_pipeline_spark.plans.qc_pipeline import QCConfig, run_qc_pipeline
    from wq_data_pipeline_spark.report import render_qc_figures

    rng = np.random.default_rng(3)
    ts = pd.date_range("2024-01-01", periods=300, freq="15min")
    v = rng.normal(10, 1, len(ts))
    long = spark.createDataFrame(
        pd.concat(
            pd.DataFrame({"station": st, "variable": "o2", "ts": ts, "value": v})
            for st in (None, "stnA")
        ),
        "station string, variable string, ts timestamp, value double",
    )
    out = run_qc_pipeline(long, QCConfig(apply_sentem=False))
    sink = tmp_path / "sink"
    out.timeseries.select("station", "ts").write.partitionBy("station").parquet(str(sink))
    parts = {n.split("=", 1)[1] for n in os.listdir(sink) if n.startswith("station=")}
    (null_dir,) = parts - {"stnA"}
    figs = tmp_path / "figs"
    paths = render_qc_figures(
        out.timeseries, out.events, out.seasonal, str(figs), max_points=100
    )
    assert len(paths) == 16, paths
    assert sorted(os.listdir(figs)) == sorted([null_dir, "stnA"])
    for name in ("o2__00_raw.svg", "o2__01_clean.svg", "o2__03_quant_diffs.svg"):
        assert (figs / null_dir / name).read_bytes() == (figs / "stnA" / name).read_bytes(), name
    assert b"<polyline" in (figs / null_dir / "o2__00_raw.svg").read_bytes()
    assert "raw n=300" in (figs / null_dir / "o2__01_clean.svg").read_text()


def _sql_plans(spark) -> dict[int, str]:
    """Physical plan text of every SQL execution the UI store holds, by
    execution id, once the listener bus has delivered its events."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    found = (execs.apply(i) for i in range(execs.size()))
    return {e.executionId(): e.physicalPlanDescription() for e in found}


def test_qc_figure_path_runs_no_window(spark, four_series_outputs, tmp_path):
    """Without WRTDS, no SQL execution of the figure path holds a
    window: the series inputs come from the per-series kernel."""
    from test_plan_budget import _count_op

    from wq_data_pipeline_spark.report import render_qc_figures

    out = four_series_outputs
    before = max(_sql_plans(spark), default=-1)
    render_qc_figures(out.timeseries, out.events, out.seasonal, str(tmp_path), max_points=100)
    plans = [p for i, p in _sql_plans(spark).items() if i > before]
    assert plans
    assert [p for p in plans if _count_op(p, "Window")] == [], plans
    assert any(_count_op(p, "FlatMapCoGroupsInArrow") for p in plans), plans
