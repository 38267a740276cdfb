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
    from wq_data_pipeline_spark.report.figures import downsample_series

    d = qc_outputs.timeseries.filter(F.col("variable") == "o2")
    rows = downsample_series(d, ["clean"], max_points=100)
    assert 0 < len(rows) <= 101
    # values survive the bucket-average (flat run keeps its level)
    vals = [r["clean"] for r in rows if r["clean"] is not None]
    assert any(abs(v - 5.55) < 0.5 for v in vals)


def test_sentemqc_combined_figure(spark, tmp_path):
    from wq_data_pipeline_spark.operators.sentem import apply_sentemqc
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
    # apply_sentemqc exports the last pass's qcband_top/qcband_bottom
    sq = apply_sentemqc(df)
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


def test_qc_figures_per_station_do_not_collide(spark, tmp_path):
    """Two stations sharing variable names get one figure set each,
    under ``<out>/<station>/`` with the reference basenames: every
    returned path is a distinct file on disk."""
    from wq_data_pipeline_spark.plans.qc_pipeline import QCConfig, run_qc_pipeline
    from wq_data_pipeline_spark.report import render_qc_figures

    rng = np.random.default_rng(5)
    ts = pd.date_range("2024-01-01", periods=400, freq="15min")
    long = spark.createDataFrame(
        pd.concat(
            pd.DataFrame(
                {"station": st, "variable": var, "ts": ts, "value": rng.normal(10, 1, len(ts))}
            )
            for st in ("stn A", "stn B")
            for var in ("o2", "ph")
        )
    )
    out = run_qc_pipeline(long, QCConfig(apply_sentem=False))
    paths = render_qc_figures(
        out.timeseries, out.events, out.seasonal, str(tmp_path), max_points=100
    )
    assert len(paths) == 32 and len(set(paths)) == 32, paths
    assert all(os.path.isfile(p) for p in paths)
    for station in ("stn_A", "stn_B"):
        names = sorted(os.listdir(tmp_path / station))
        assert len(names) == 16, names
        assert "o2__00_raw.svg" in names and "ph__08_accepted.svg" in names, names
