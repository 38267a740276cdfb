"""The QC pipeline's per-series kernel (operators/series_qc.py) against
the Column-algebra operators it replaced in the pipeline
(operators/clean.py, detectors.py), which the catalog still runs, and
against a pandas transcription of the five SentemQC band passes: on
edge-case series and on a fixture with every anomaly, the pipeline's
long table and events must equal the same chain composed from those.

NaN in the input is NULL to both engines, as it is at ingest
(sources/csv_source.py): the Column chain gets it as NULL, the kernel
as NaN."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

KEYS = ["station", "variable"]
LONG_COLUMNS = [
    "station", "variable", "ts", "clean", "dup_count", "raw", "gap_seconds", "is_gap",
    "f_z", "saqc_flag", "accepted", "sm_masked", "sm_flagged", "sm_flagreason",
]
EVENT_COLUMNS = [
    "station", "variable", "type", "start", "end", "hours", "value", "n_points",
    "pre", "post", "pre_val", "post_val",
]


def _column_algebra_qc(readings, cfg):
    """The pipeline's chain composed from the Column-algebra operators:
    clean -> fallback flags (robust z on the window engine) ->
    SentemQC (pandas rolling calls per series), and the three event
    detectors over the clean series."""
    from pyspark.sql import types as T

    from wq_data_pipeline_spark.operators import clean as C
    from wq_data_pipeline_spark.operators import detectors as D
    from wq_data_pipeline_spark.operators import series_qc as Q
    from wq_data_pipeline_spark.operators.sentem import TRI5_WEIGHTS

    def pandas_sentemqc(pdf):
        """The five DEFAULT_PASSES band passes over one series
        (scripts/sentemqc.py:80-114): centred rolling mean/median and
        std(ddof=0), tri5 over the finite taps, 10% envelope."""
        pdf = pdf.sort_values("ts", ignore_index=True)
        s = pdf["clean"].where(pdf["clean"] > 0)  # pre-mask
        flags = []
        for p in Q.DEFAULT_PASSES:
            if p.stat == "tri5":
                taps = [(s.shift(-k), wt) for k, wt in zip(range(-2, 3), TRI5_WEIGHTS)]
                wsum = sum(t.notna() * wt for t, wt in taps)
                ma = sum(t.fillna(0.0) * wt for t, wt in taps) / wsum
                var = sum(((t - ma) ** 2).fillna(0.0) * wt for t, wt in taps) / wsum
                enough = sum(t.notna().astype(int) for t, _ in taps) >= 3
                ma, sd = ma.where(enough), np.sqrt(var).where(enough)
            else:
                minp = max(3, math.ceil(p.window * 0.3))
                r = s.rolling(p.window, center=True, min_periods=minp)
                ma = r.median() if p.stat == "median" else r.mean()
                sd = r.std(ddof=0)
            top = ma + p.top_add + p.scale * sd
            bottom = ma - p.bottom_sub - p.scale * sd
            hi, lo = s * (1.0 + p.unc_pct), s * (1.0 - p.unc_pct)
            flags.append(((hi > top) & (lo > top)) | ((hi < bottom) & (lo < bottom)))
        flagged = pd.concat(flags, axis=1).any(axis=1)
        return pdf.assign(
            sm_masked=s.where(~flagged),
            sm_flagged=flagged,
            sm_flagreason=[
                " ".join(f"flag_run{i}" for i, f in enumerate(row, start=1) if f)
                for row in zip(*flags)
            ],
        )

    d = readings.withColumn("value", F.when(~F.isnan("value"), F.col("value")))
    d = C.mask_sentinels(d, KEYS, "value", Q.SENTINELS)
    d = C.resolve_duplicates(d, KEYS, "ts", "value")
    d = d.withColumn("raw", F.col("value"))
    d = C.classify_gaps(d, KEYS, "ts", cfg.max_gap_seconds)
    cleaned = C.null_gap_values(d, "value")

    d = D.flag_robust_z(cleaned, "value", Q.Z_WINDOW_POINTS, cfg.z_thresh, KEYS, "ts", out="f_z")
    flags = [F.col("f_z"), D.flag_missing("value")]
    for var, (lo, hi) in cfg.range_map.items():
        flags.append(F.when(F.col("variable") == var, D.flag_range("value", lo, hi)))
    if cfg.full_suite:
        flags.append(D.flag_jumps("value", Q.JUMP_THRESH, KEYS, "ts"))
        d = D.flat_run_mask(d, "value", KEYS, "ts", Q.FLAT_ATOL, Q.FLAT_MIN_HOURS, out="_flat")
        flags.append(F.col("_flat"))
        flags.append(D.flag_variance("value", Q.VAR_WINDOW_POINTS, KEYS, "ts", Q.VAR_TOL))
        d = D.detect_isolated_groups(
            d, "value", KEYS, "ts", Q.ISOLATED_GROUP_POINTS, Q.ISOLATED_GAP_SECONDS, out="_iso"
        )
        flags.append(F.col("_iso"))
    combined = D.merge_flags(*flags)
    d = d.withColumns(
        {
            "saqc_flag": D.flags_to_code(combined),
            "accepted": F.when(combined, None).otherwise(F.col("value")),
        }
    )
    d = d.withColumnRenamed("value", "clean").select(*LONG_COLUMNS[:-3])
    sentem_fields = [
        T.StructField("sm_masked", T.DoubleType()),
        T.StructField("sm_flagged", T.BooleanType()),
        T.StructField("sm_flagreason", T.StringType()),
    ]
    long = d.groupBy(*KEYS).applyInPandas(
        pandas_sentemqc, T.StructType(d.schema.fields + sentem_fields)
    )

    flat = D.detect_flat_runs(cleaned, "value", KEYS, "ts", Q.FLAT_ATOL, Q.FLAT_MIN_HOURS)
    switches = D.detect_binary_switches(cleaned, "value", KEYS, "ts", Q.ZERO_TOL)
    slopes = D.detect_flat_slopes(
        cleaned, "value", KEYS, "ts", Q.SLOPE_WINDOW_POINTS, Q.SLOPE_ABS, Q.FLAT_MIN_HOURS
    )
    events = flat.unionByName(switches, allowMissingColumns=True).unionByName(
        slopes, allowMissingColumns=True
    )
    return long, events.select(*EVENT_COLUMNS)


def _rows(df, order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def _same_rows(got, want):
    """Equal row lists: NULLs in the same places, floats within 1e-12
    relative, everything else exact."""
    assert len(got) == len(want), (len(got), len(want))
    for g, w in zip(got, want):
        for a, b in zip(g, w):
            if isinstance(a, float) and isinstance(b, float):
                assert math.isclose(a, b, rel_tol=1e-12, abs_tol=0.0), (g, w)
            else:
                assert a == b, (g, w)


def _readings(spark, pdf):
    rows = [
        (st, var, t.to_pydatetime(), None if v is None else float(v))
        for st, var, t, v in pdf[["station", "variable", "ts", "value"]].itertuples(index=False)
    ]
    schema = "station string, variable string, ts timestamp, value double"
    return spark.createDataFrame(rows, schema)


def _both_engines(spark, pdf, cfg):
    """(pipeline outputs, {table: (kernel rows, Column-algebra rows)})
    for the long table and the events, each sorted."""
    from wq_data_pipeline_spark.plans.qc_pipeline import run_qc_pipeline

    readings = _readings(spark, pdf)
    out = run_qc_pipeline(readings, cfg)
    long, events = _column_algebra_qc(readings, cfg)
    assert out.timeseries.columns == LONG_COLUMNS
    assert out.events.columns == EVENT_COLUMNS
    by_ts, by_start = [*KEYS, "ts"], [*KEYS, "type", "start"]
    return out, {
        "long": (_rows(out.timeseries, by_ts), _rows(long, by_ts)),
        "events": (_rows(out.events, by_start), _rows(events, by_start)),
    }


def _series(values, station="s", variable="x", start="2024-01-01", ts=None):
    """One series; ``None`` values become NULL and NaN stays NaN."""
    ts = ts if ts is not None else pd.date_range(start, periods=len(values), freq="15min")
    value = pd.Series(list(values), dtype=object)
    return pd.DataFrame({"station": station, "variable": variable, "ts": ts, "value": value})


def _shaped(n: int) -> list[float]:
    """n points of a ramp with a flat run, a zero run and a spike, cut
    to the series length."""
    v = [round(5.0 + 0.37 * (i % 7) + 0.01 * i, 2) for i in range(n)]
    for i in range(2, min(n, 13)):
        v[i] = 4.2  # flat run of up to 11 points (2.5 h)
    for i in range(14, min(n, 18)):
        v[i] = 0.0  # zero run
    if n > 20:
        v[20] = 60.0  # spike / jump
    return v


EDGE_CASES = {
    "all_sentinels": _series([-9999.0] * 50),
    "one_row": _series([3.5]),
    "one_ts": _series(
        [1.0, 4.0, 2.5, None, 7.0, 3.0],
        ts=[pd.Timestamp("2024-01-01 06:00")] * 6,
    ),
    "all_null": _series([None] * 40),
    "nan_input": _series(
        [np.nan if i % 9 == 0 else 2.0 + 0.1 * i for i in range(120)]
    ),
    "shorter_than_24": _series(_shaped(23)),
    "shorter_than_25": _series(_shaped(24)),
    "shorter_than_96": _series(_shaped(95)),
    "null_station": pd.concat(
        [_series(_shaped(95), station=None), _series(_shaped(60), station="stnA")]
    ),
}


@pytest.fixture(scope="module")
def edge_rows(spark):
    """Both engines over every edge case at once, each case its own
    variable (plus the two stations of ``null_station``)."""
    from wq_data_pipeline_spark.plans.qc_pipeline import QCConfig

    pdf = pd.concat([p.assign(variable=case) for case, p in EDGE_CASES.items()])
    cfg = QCConfig(range_map={case: (0.0, 40.0) for case in EDGE_CASES}, full_suite=True)
    return _both_engines(spark, pdf, cfg)[1]


@pytest.mark.parametrize("case", sorted(EDGE_CASES))
def test_kernel_matches_column_algebra_on_edge_cases(edge_rows, case):
    for table, (kernel, columns) in edge_rows.items():
        mine = [[r for r in rows if r[1] == case] for rows in (kernel, columns)]
        assert table == "events" or mine[0], case
        _same_rows(*mine)


@pytest.mark.parametrize("full_suite", [False, True])
def test_kernel_matches_column_algebra_on_anomalies(spark, full_suite):
    """Two stations x two variables with sentinels, duplicate
    timestamps, gaps, flat and zero runs, spikes, NULL and non-positive
    values: every long-table and event row agrees, and every detector
    fires somewhere."""
    from wq_data_pipeline_spark.plans.qc_pipeline import QCConfig

    rng = np.random.default_rng(13)
    frames = []
    for station in ("a", "b"):
        for var in ("o2", "ph"):
            n = 1400
            ts = pd.date_range("2024-02-20", periods=n, freq="15min")
            v = rng.normal(8.0, 0.6, n).round(3)
            v[100:110] = -9999.0
            v[300:340] = 5.5
            v[500:506] = 0.0
            v[700] = 45.0
            v[800:805] = -1.0
            v[rng.choice(n, 25, replace=False)] = np.nan
            keep = np.ones(n, bool)
            keep[900:930] = False  # 7.5 h gap
            keep[1000:1014] = False  # isolated pair at 1014-1015 under a 6 h gap-null
            keep[1016:1030] = False
            pdf = _series(v[keep], station, var, ts=ts[keep])
            dups = pdf.iloc[[40, 41, 41]].assign(
                value=pd.Series([1.0, None, 9.0], dtype=object).values
            )
            frames += [pdf, dups]
    pdf = pd.concat(frames, ignore_index=True)
    cfg = QCConfig(
        range_map={"o2": (0.0, 40.0)}, full_suite=full_suite, max_gap_seconds=6 * 3600.0
    )
    out, rows = _both_engines(spark, pdf, cfg)
    for kernel, columns in rows.values():
        _same_rows(kernel, columns)
    ts = out.timeseries
    assert ts.filter(F.col("dup_count") > 1).count() == 8
    assert ts.filter("is_gap").count() == 4
    assert ts.filter("sm_flagged").count() > 0 and ts.filter("f_z").count() > 0
    kinds = {r.type for r in out.events.select("type").distinct().collect()}
    assert kinds == {"flat_values", "binary_switch", "flat_slopes"}


def test_kernel_histogram_matches_decimal_histogram(spark):
    """``series_qc.decimal_histogram`` (the QC figure 02 input) equals
    ``stats.decimal_histogram`` bin for bin: negative values, NULLs,
    integers and fractions sitting exactly on a ``linspace`` edge
    (0.6 lands in bin 5 under both)."""
    from wq_data_pipeline_spark.operators import series_qc as Q
    from wq_data_pipeline_spark.operators.stats import decimal_histogram

    rng = np.random.default_rng(31)
    v = list(np.round(rng.normal(0, 20, 500), 3))
    v += [0.6, 2.6, -0.4, 0.3, 0.7, 0.1, 0.9, 3.0, -2.0, 0.0, 5.999999999, None, None]
    got = Q.decimal_histogram(np.array([np.nan if x is None else x for x in v]))
    df = spark.createDataFrame(_series(v)[["station", "variable", "value"]])
    want = {r.bin: r.bin_count for r in decimal_histogram(df, KEYS, "value").collect()}
    assert got.tolist() == [want.get(b, 0) for b in range(10)]
    assert Q.decimal_histogram(np.array([0.6]))[5] == 1
    assert Q.decimal_histogram(np.array([np.nan])).tolist() == [0] * 10


@pytest.mark.parametrize(
    "values",
    [[2.5], [1.0, None], [None, None, None], [None, 4.0, 1.5, None, 7.25, 3.0],
     [round(0.1 * i + 0.37 * (i % 5), 3) if i % 7 else None for i in range(900)]],
    ids=["one_row", "two_rows", "all_null", "null_values", "many_per_bucket"],
)
def test_kernel_buckets_match_bucketed_series(spark, values):
    """``series_qc.time_buckets`` (the QC series figures' input) equals
    ``figures.bucketed_series``: the same bucket starts, counts and
    means, NaN where the mean is NULL."""
    from wq_data_pipeline_spark.operators import series_qc as Q
    from wq_data_pipeline_spark.report.figures import bucketed_series

    pdf = _series(values)
    want = bucketed_series(_readings(spark, pdf), ["value"], max_points=50)[("s", "x")]
    ts = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
    x = np.array([np.nan if v is None else v for v in values])
    got = Q.time_buckets(ts, {"value": x}, max_points=50)
    assert got["ts_us"].tolist() == [r.ts_us for r in want]
    assert got["n_value"].tolist() == [r.n_value for r in want]
    np.testing.assert_array_equal(
        got["value"], [np.nan if r.value is None else r.value for r in want]
    )


def test_all_null_ts_series_gets_only_a_meta_row(spark):
    """A series whose every ts is NULL gives the kernel one row with no
    long rows, no events and no seasons, and a meta (default step, all
    NULL-ts rows but one counted as duplicates, the sentinel of 1 of
    its 3 rows active); through the pipeline it gets a meta row and
    nothing else, next to a series with timestamps."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from wq_data_pipeline_spark.operators import series_qc as Q
    from wq_data_pipeline_spark.plans.qc_pipeline import QCConfig, run_qc_pipeline, series_schema

    cfg = QCConfig()
    table = pa.table(
        {
            "station": ["s"] * 3,
            "variable": ["z"] * 3,
            "ts": pa.array([None] * 3, pa.timestamp("us", tz="UTC")),
            "value": [1.0, None, -9999.0],
            "season": pa.array([None] * 3, pa.string()),
        }
    )
    row = Q.series_table(
        table, to_arrow_schema(series_schema(cfg)), max_gap_seconds=cfg.max_gap_seconds,
        z_thresh=cfg.z_thresh, value_range=None, full_suite=True, sentem=True,
    ).to_pylist()
    assert row == [
        {
            "station": "s", "variable": "z", "rows": [], "events": [], "seasons": [],
            "step_seconds": 900.0, "duplicates": 2, "sentinel_used": "[-9999.0]",
        }
    ]

    timed = _readings(spark, _series([1.0, 2.0, 3.0], station="s"))
    untimed = spark.createDataFrame(
        [("s", "z", None, v) for v in (1.0, None, -9999.0)], timed.schema
    )
    out = run_qc_pipeline(timed.unionByName(untimed), cfg)
    assert {r.variable for r in out.meta.collect()} == {"x", "z"}
    for name in ("timeseries", "events", "seasonal"):
        assert "z" not in {r.variable for r in getattr(out, name).collect()}, name
    assert [c for c in out.timeseries_wide.columns if c.startswith("z__")] == []
