"""CLI entry point + stateful streaming flat-run detector."""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest


def test_cli_end_to_end(tmp_path):
    rng = np.random.default_rng(9)
    n = 1500
    ts = pd.date_range("2024-01-01", periods=n, freq="15min")
    o2 = rng.normal(10, 1.5, n).clip(0)
    o2[200:220] = 5.55
    pd.DataFrame({"timestamp": ts, "station": "stn1", "o2": o2}).to_csv(
        tmp_path / "wq.csv", index=False
    )
    out = tmp_path / "out"
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    r = subprocess.run(
        [
            sys.executable, "-m", "wq_data_pipeline_spark.cli",
            "--csv", str(tmp_path / "wq.csv"),
            "--station", "stn1",
            "--out", str(out),
            "--vars", "o2",
            "--range", "o2", "0", "40",
        ],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert (out / "qc_timeseries_wide").is_dir()
    assert any(f.endswith(".csv") for f in os.listdir(out / "events"))


def test_streaming_flat_runs_across_batches(spark, tmp_path, drain_stateful):
    """A flat run split across two micro-batches must be stitched by
    the state and emitted once it breaks."""
    from wq_data_pipeline_spark.streaming.stateful import streaming_flat_runs
    from wq_data_pipeline_spark.streaming.stream_qc import read_readings_stream

    sdir = tmp_path / "in"
    sdir.mkdir()
    ts = pd.date_range("2024-06-01", periods=40, freq="1min")
    v = np.arange(40, dtype=float)
    v[10:30] = 7.0  # flat run rows 10..29, split across the two files
    pdf = pd.DataFrame({"station": "s", "variable": "v", "ts": ts, "value": v})
    spark.createDataFrame(pdf.iloc[:20]).coalesce(1).write.mode("append").parquet(str(sdir))
    spark.createDataFrame(pdf.iloc[20:]).coalesce(1).write.mode("append").parquet(str(sdir))

    stream = read_readings_stream(spark, str(sdir), max_files_per_trigger=1)
    q = (
        streaming_flat_runs(stream, atol=1e-9, min_points=5)
        .writeStream.format("memory")
        .queryName("flatruns")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # applyInPandasWithState queries do not self-terminate under
    # availableNow; poll the sink and stop explicitly (conftest
    # drain_stateful fixture).
    drain_stateful(q, "flatruns", target_rows=1)
    rows = spark.sql("select * from flatruns").collect()
    assert len(rows) == 1, rows
    r = rows[0]
    assert r.n_points == 20 and r.run_value == 7.0
    assert pd.Timestamp(r.start_ms, unit="ms") == ts[10]
    assert pd.Timestamp(r.end_ms, unit="ms") == ts[29]


def test_cli_tz_localize(spark, tmp_path):
    """--tz: DST hole/fold rows dropped per the reference NaT policy;
    normal rows localized to UTC."""
    import pandas as pd

    from wq_data_pipeline_spark.cli import build_parser
    from wq_data_pipeline_spark.sources.csv_source import (
        localize_naive_timestamps,
        read_wide_csv,
    )

    args = build_parser().parse_args(
        ["--csv", "x.csv", "--out", "o", "--vars", "v", "--tz", "Europe/Berlin"]
    )
    assert args.tz == "Europe/Berlin"

    ts = ["2024-03-31 02:30:00", "2024-10-27 02:30:00", "2024-06-01 12:00:00"]
    pd.DataFrame({"timestamp": ts, "v": [1.0, 2.0, 3.0]}).to_csv(
        tmp_path / "t.csv", index=False
    )
    wide = read_wide_csv(spark, str(tmp_path / "t.csv"))
    wide = localize_naive_timestamps(wide, "timestamp", args.tz)
    rows = wide.filter(wide.timestamp.isNotNull()).collect()
    assert len(rows) == 1 and rows[0].v == 3.0


def test_sentem_cli_end_to_end(tmp_path):
    """EP3 standalone CLI (reference scripts/sentemqc.py __main__):
    wide CSV in -> reference-named QC export columns out."""
    rng = np.random.default_rng(11)
    n = 1200
    ts = pd.date_range("2024-01-01", periods=n, freq="15min")
    o2 = rng.normal(9, 0.4, n).clip(0.1)
    o2[300] = 35.0  # far outside every band -> flagged
    pd.DataFrame({"timestamp": ts, "o2": o2}).to_csv(tmp_path / "s.csv", index=False)
    out = tmp_path / "out"
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    r = subprocess.run(
        [
            sys.executable, "-m", "wq_data_pipeline_spark.sentem_cli",
            "--csv", str(tmp_path / "s.csv"),
            "--out", str(out),
            "--var", "o2", "400",
            "--calibration", "o2", "0.05",
        ],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    csvs = [f for f in os.listdir(out / "sentemqc_wide") if f.endswith(".csv")]
    assert len(csvs) == 1
    df = pd.read_csv(out / "sentemqc_wide" / csvs[0])
    # reference export naming (scripts/sentemqc.py:159-164)
    for suf in ("flag_global", "is_flagged", "flag_reason",
                "qcband_top", "qcband_bottom", "masked"):
        assert f"o2__{suf}" in df.columns, df.columns.tolist()
    assert "o2" in df.columns and len(df) == n
    assert set(df["o2__flag_global"].unique()) <= {100, 200}
    assert (df["o2__flag_global"] == 200).any(), "planted outlier never flagged"


@pytest.mark.parametrize(
    "extra, message",
    [
        (["--var", "o2", "999"], "unknown sensor code 999 (known codes: 400, 410, 157787"),
        (["--var", "o2", "four"], "CODE 'four' is not an integer"),
        (["--var", "o2", "400", "--calibration", "o2", "abc"], "OFFSET 'abc' is not a number"),
        (["--var", "o2", "400", "--nitrate", "no3"], "--nitrate no3: no --var names 'no3'"),
        (["--var", "o2", "400", "--calibration", "ph", "0.1"], "--calibration ph: no --var names"),
        (["--var", "o2", "400", "--var", "o2", "410"], "--var o2 is given twice"),
    ],
    ids=["unknown_code", "non_integer_code", "non_float_offset", "unmapped_nitrate",
         "unmapped_calibration", "repeated_var"],
)
def test_sentem_cli_rejects_bad_input(tmp_path, capsys, extra, message):
    """Each bad EP3 argument is a usage error (exit 2) naming the known
    codes or the unknown name, raised before any CSV is read."""
    from wq_data_pipeline_spark import sentem_cli

    argv = ["--csv", str(tmp_path / "missing.csv"), "--out", str(tmp_path / "out"), *extra]
    with pytest.raises(SystemExit) as exc:
        sentem_cli.main(argv)
    assert exc.value.code == 2
    assert message in capsys.readouterr().err
