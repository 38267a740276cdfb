"""S7 figure sinks: the reference's per-variable figure set
(scripts/ufz_water_qc_pipeline.py:706-728 — ``{var}__00_raw`` ..
``{var}__08_accepted``) and the sentemqc combined log plot
(scripts/sentemqc.py:117-142, emitted by run_sentemqc_on_dataframe).

Grouped contract: the series figures' inputs come from ONE cogrouped
Arrow pass over all (station, variable) series — each series' QC rows
with its events, through the kernel's ``series_qc.figure_table`` —
and one collect of the seasonal coverage, so a report fires as many
Spark jobs for 1 series as for 1,000; the per-series loop only draws
from driver-side rows. Every collected row is bounded per series: a
time-BUCKETED series (<= ``max_points`` buckets), 10 histogram bins,
the ``max_spans`` newest events and 4 seasons; figure 07 adds a
bucketed WRTDS fit and its 2000 largest spikes (a ``row_number``
window). At 100 TB the driver still only ever sees O(pixels) rows per
figure.

Backend: matplotlib when importable (PNG, like the reference), else
the stdlib SVG kit in :mod:`wq_data_pipeline_spark.report.svgplot`.
The figure content is identical; only the rasterizer differs.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from wq_data_pipeline_spark.functions.scalars import sanitize_name
from wq_data_pipeline_spark.operators import series_qc as Q
from wq_data_pipeline_spark.report import svgplot as SP
from wq_data_pipeline_spark.report.svgplot import (
    COLOR_BLUE,
    COLOR_GREY,
    COLOR_ORANGE,
    COLOR_RAW,
    Figure,
)
from wq_data_pipeline_spark.session import ship_package

try:  # optional PNG backend — not in this container
    import matplotlib

    matplotlib.use("Agg")
    import matplotlib.pyplot as plt

    HAVE_MPL = True
except ImportError:
    HAVE_MPL = False

KEYS = ["station", "variable"]
SEASON_ORDER = ["DJF", "MAM", "JJA", "SON"]
# the directory a NULL station gets from the parquet sinks'
# partitionBy("station"); its figures go under the same name
NULL_STATION_DIR = "__HIVE_DEFAULT_PARTITION__"


# one row per series from series_qc.figure_table
_BUCKET = T.StructType(
    [T.StructField("ts_us", T.LongType(), False)]
    + [T.StructField(c, T.DoubleType()) for c in Q.FIGURE_VALUES]
    + [T.StructField(f"n_{c}", T.LongType(), False) for c in Q.FIGURE_VALUES]
)
_SPAN = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("s", T.LongType()),
        T.StructField("e", T.LongType()),
    ]
)
FIGURE_SCHEMA = T.StructType(
    [
        T.StructField("station", T.StringType()),
        T.StructField("variable", T.StringType()),
        T.StructField("buckets", T.ArrayType(_BUCKET, False), False),
        T.StructField("hist", T.ArrayType(T.LongType(), False), False),
        T.StructField("spans", T.ArrayType(_SPAN, False), False),
    ]
)


# ---------------------------------------------------------------- grouped inputs
def series_figure_inputs(
    qc: DataFrame, events: DataFrame, max_points: int, max_spans: int
) -> dict:
    """The inputs of every series figure in one cogrouped Arrow pass
    and one collect: ``{(station, variable): row}`` with the row's
    ``buckets``, ``hist`` and ``spans`` (``series_qc.figure_table``)."""
    ship_package(qc.sparkSession)
    schema = to_arrow_schema(FIGURE_SCHEMA)

    def per_series(series, spans):
        return Q.figure_table(series, spans, schema, max_points=max_points, max_spans=max_spans)

    series = qc.select(*KEYS, "ts", "raw", "clean", "accepted").groupBy(*KEYS)
    spans = events.select(*KEYS, "type", "start", "end").groupBy(*KEYS)
    rows = series.cogroup(spans).applyInArrow(per_series, FIGURE_SCHEMA).collect()
    return {(r.station, r.variable): r for r in rows}


def bucketed_series(df: DataFrame, value_cols: Sequence[str], max_points: int = 1100) -> dict:
    """Cluster-side time-bucket downsample of EVERY (station, variable)
    series in one collect: each series' span [lo, hi] (a per-series
    window in the same plan) is cut into <= max_points buckets of
    ``(hi - lo) div max_points + 1`` µs; each value col is averaged,
    and counted as ``n_<col>``, per bucket. Returns ``{(station,
    variable): rows ordered by ts_us}`` — O(max_points) rows per series
    whatever its size, the scale contract of every series figure."""
    us = F.unix_micros("ts")
    w = Window.partitionBy(*KEYS)
    d = df.withColumns({"_us": us, "_lo": F.min(us).over(w), "_hi": F.max(us).over(w)})
    d = d.withColumn(
        "_step", F.expr(f"(greatest(_hi, _lo + 1) - _lo) div {int(max_points)} + 1")
    )
    b = ((F.col("_us") - F.col("_lo")) / F.col("_step")).cast("long")
    aggs = [F.avg(c).alias(c) for c in value_cols]
    aggs += [F.count(c).alias(f"n_{c}") for c in value_cols]
    rows = (
        d.groupBy(*KEYS, "_lo", "_step", b.alias("_b"))
        .agg(*aggs)
        .withColumn("ts_us", F.col("_b") * F.col("_step") + F.col("_lo"))
        .collect()
    )
    return _by_series(rows, "ts_us")


def _by_series(rows, order: str) -> dict:
    """Rows grouped per (station, variable), each sorted by ``order``, NULL first."""
    out: dict = {}
    for r in rows:
        out.setdefault((r.station, r.variable), []).append(r)
    for rs in out.values():
        rs.sort(key=lambda r: (r[order] is not None, r[order]))
    return out


def _top_per_series(df: DataFrame, k: int, *order) -> dict:
    """The first ``k`` rows of each (station, variable) series under
    ``order``, in one collect (a ``row_number`` window)."""
    w = Window.partitionBy(*KEYS).orderBy(*order)
    rows = df.withColumn("_n", F.row_number().over(w)).filter(F.col("_n") <= k).collect()
    return _by_series(rows, "_n")


def _xy(rows, col):
    xs = [r["ts_us"] for r in rows]
    ys = [r[col] if r[col] is not None else float("nan") for r in rows]
    return xs, ys


# ---------------------------------------------------------------- backends
def save_figure(fig: Figure, base: str) -> str:
    """Write ``base``.png (matplotlib) or ``base``.svg (stdlib).
    Replays the Figure's recorded layers into matplotlib when present,
    so both backends draw the same content."""
    if not HAVE_MPL:
        return _save_svg_str(fig.to_svg(), base)
    path = base + ".png"
    mfig = plt.figure(figsize=(fig.width / 80, fig.height / 80))
    ax = plt.gca()
    epoch = __import__("datetime").datetime(1970, 1, 1)

    def conv(xs):
        if not fig.time_x:
            return xs
        import datetime as _dt

        return [epoch + _dt.timedelta(microseconds=x) for x in xs]

    for e in fig._elems:
        if e[0] == "line":
            _, xs, ys, color, lw = e
            ax.plot(conv(xs), ys, color=color, lw=lw)
        elif e[0] == "markers":
            _, xs, ys, color, size, shape = e
            ax.plot(conv(xs), ys, "x" if shape == "x" else ".", ms=size, color=color)
        elif e[0] == "bars":
            _, cs, hs, bw, color = e
            ax.bar(cs, hs, width=bw * 0.95, color=color)
        elif e[0] == "spans":
            _, ivs, color, alpha = e
            for a, b in ivs:
                ax.axvspan(conv([a])[0] if fig.time_x else a, conv([b])[0] if fig.time_x else b, color=color, alpha=alpha)
    if fig.log_y:
        ax.set_yscale("log")
    ax.set_title(fig.title)
    ax.set_xlabel(fig.xlabel)
    ax.set_ylabel(fig.ylabel)
    if fig._legend:
        ax.legend([lab for lab, _, _ in fig._legend], ncol=5, frameon=False)
    if fig._annot:
        ax.text(0.01, 0.02, fig._annot, transform=ax.transAxes, ha="left", va="bottom")
    plt.tight_layout()
    plt.savefig(path, bbox_inches="tight")
    plt.close(mfig)
    return path


def _save_svg_str(svg: str, base: str) -> str:
    path = base + ".svg"
    with open(path, "w") as f:
        f.write(svg)
    return path


# ---------------------------------------------------------------- figure set
def _series_fig(rows, col, title, ylabel) -> Figure:
    fig = Figure(title=title, ylabel=ylabel, xlabel="Time")
    fig.line(*_xy(rows, col), color=COLOR_RAW, lw=0.8)
    return fig


def render_qc_figures(
    qc: DataFrame,
    events: DataFrame,
    seasonal: DataFrame,
    out_dir: str,
    max_points: int = 1100,
    max_spans: int = 400,
    include_wrtds: bool = False,
) -> list[str]:
    """Per-(station, variable) figure set 00..08 (reference
    process_variable figure block, scripts/ufz_water_qc_pipeline.py:
    706-728). ``qc`` is the long QC table (station, variable, ts,
    raw, clean, accepted, saqc_flag); ``events``/``seasonal`` the
    pipeline's aggregate outputs. Each station's set goes under
    ``out_dir/<sanitized station>/`` (a NULL station under
    :data:`NULL_STATION_DIR`) with the reference's ``{var}__NN_name``
    basenames, so stations sharing a variable name do not overwrite
    each other. The series inputs are one cogrouped pass over all
    series (module docstring); series are drawn in (station, variable)
    order, NULL station first. Returns written paths."""
    from wq_data_pipeline_spark.operators.pinning import pin, unpin
    from wq_data_pipeline_spark.operators.wrtds import wrtds_buster, wrtds_residuals

    # one pass shared by 00-05 and 08: buckets (with 01's counts, 03's
    # |successive diff| and 05's smoother), the histogram and the spans
    inputs = series_figure_inputs(qc, events, max_points, max_spans)
    cov = {
        (r.station, r.variable, r.season): r.coverage_pct
        for r in seasonal.select(*KEYS, "season", "coverage_pct").collect()
    }
    if include_wrtds:
        # 07's inputs: bucketed fit and the 2000 largest |robust z|
        # spikes per series (ties by ts); the fit is pinned so both
        # collects read it once
        res = pin(wrtds_residuals(qc.select(*KEYS, "ts", F.col("clean").alias("value")), KEYS))
        wrtds = bucketed_series(res, ["value", "residual"], max_points)
        spikes = _top_per_series(
            wrtds_buster(res, KEYS).withColumn("ts_us", F.unix_micros("ts")),
            2000,
            F.desc(F.abs("robust_z")), "ts",
        )
        unpin(res)

    written: list[str] = []
    for station, variable in sorted(inputs, key=lambda k: (k[0] is not None, k)):
        series = inputs[(station, variable)]
        rows = series.buckets
        station_dir = os.path.join(
            out_dir, NULL_STATION_DIR if station is None else sanitize_name(station)
        )
        os.makedirs(station_dir, exist_ok=True)
        pre = os.path.join(station_dir, f"{sanitize_name(variable)}__")

        f0 = _series_fig(rows, "raw", f"{variable} Raw", variable)
        written.append(save_figure(f0, pre + "00_raw"))

        f1 = _series_fig(rows, "clean", f"{variable} After sentinels+gaps", variable)
        n_tot = sum(r.n_raw for r in rows)
        n_clean = sum(r.n_clean for r in rows)
        f1.annotate(f"raw n={n_tot}  clean n={n_clean}  nulled={n_tot - n_clean}")
        written.append(save_figure(f1, pre + "01_clean"))

        # 02: decimal histogram (A4 operator)
        f2 = Figure(
            title="Decimal distribution",
            xlabel="Fractional part [0..1)",
            ylabel="Count",
            time_x=False,
            width=560,
            height=240,
        )
        f2.bars(
            [(b + 0.5) / 10 for b in range(10)],
            [float(c) for c in series.hist],
            width=0.1,
        )
        written.append(save_figure(f2, pre + "02_decimal_hist"))

        # 03: |successive diff| (computed cluster-side, then bucketed)
        f3 = Figure(
            title="Absolute successive differences",
            xlabel="Time",
            ylabel="|Δ|",
            width=560,
            height=240,
        )
        f3.line(*_xy(rows, "adiff"), color=COLOR_BLUE, lw=0.6)
        written.append(save_figure(f3, pre + "03_quant_diffs"))

        # 04: flat events — raw + span overlays
        ev = series.spans
        f4 = Figure(
            title="Flat values (orange) and flat slopes (blue)",
            xlabel="Time",
            ylabel="Value",
        )
        f4.line(*_xy(rows, "clean"), color=COLOR_RAW, lw=0.7)
        f4.spans([(r.s, r.e) for r in ev if r.type == "flat_values"], COLOR_ORANGE, 0.2)
        f4.spans([(r.s, r.e) for r in ev if r.type == "flat_slopes"], COLOR_BLUE, 0.18)
        written.append(save_figure(f4, pre + "04_flat_events"))

        # 05: gaussian compare — 2-panel stack (smooth already bucketed)
        fa = Figure(title="Gaussian filter σ≈2h", ylabel=variable)
        fa.line(*_xy(rows, "clean"), color=COLOR_RAW, lw=0.6, label="Raw")
        fa.line(*_xy(rows, "smooth"), color=COLOR_BLUE, lw=0.9, label="Gaussian")
        fb = Figure(ylabel="Residual", xlabel="Time")
        fb.line(*_xy(rows, "residual"), color=COLOR_ORANGE, lw=0.7, label="Residual")
        if HAVE_MPL:
            written.append(save_figure(fa, pre + "05_gaussian_compare_top"))
            written.append(save_figure(fb, pre + "05_gaussian_compare_bottom"))
        else:
            written.append(
                _save_svg_str(
                    SP.stack_svgs([fa.to_svg(), fb.to_svg()]), pre + "05_gaussian_compare"
                )
            )

        # 06: seasonal coverage heatmap (A7 output)
        svg = SP.heatmap_svg(
            SEASON_ORDER,
            [float(cov.get((station, variable, s), 0.0) or 0.0) for s in SEASON_ORDER],
            f"{station} — {variable} coverage [%]",
            "all years",
        )
        written.append(_save_svg_str(svg, pre + "06_seasonal_coverage"))

        # 07: WRTDS residuals + robust-z anomalies (reference
        # wrtds_buster plot, :624-639). Opt-in: the fit is the
        # pipeline's one heavy pandas-UDF stage; reference gates it the
        # same way
        if include_wrtds:
            wrows, sp = wrtds.get((station, variable), []), spikes.get((station, variable), [])
            f7 = Figure(title="WRTDS-proxy residuals and anomalies", xlabel="Time", height=400)
            f7.line(*_xy(wrows, "value"), color=COLOR_RAW, lw=0.6, label="Raw")
            f7.line(*_xy(wrows, "residual"), color=COLOR_BLUE, lw=0.8, label="Residual")
            f7.markers(*_xy(sp, "residual"), color=COLOR_ORANGE, size=2.0, label="Anomaly")
            written.append(save_figure(f7, pre + "07_wrtds_buster"))

        # 08: accepted mask
        f8 = _series_fig(rows, "accepted", f"{variable} Accepted mask", variable)
        written.append(save_figure(f8, pre + "08_accepted"))
    return written


def render_sentemqc_figure(
    sq: DataFrame,
    out_dir: str,
    station: str,
    variable: str,
    max_points: int = 1100,
) -> str:
    """The sentemqc combined log plot (plot_combined_log_gap,
    scripts/sentemqc.py:117-142) of ONE series of the EP3 output
    (:func:`plans.sentem_pipeline.run_sentemqc_plan`): the pre-masked
    ``obs_raw`` line, the last pass's ``qcband_top``/``qcband_bottom``
    envelope, accepted dots vs flagged crosses, and the availability
    (``obs_raw`` present), masked (``obs_in`` <= 0, before the
    pre-mask) and flagged shares."""
    os.makedirs(out_dir, exist_ok=True)
    d = sq.filter((F.col("station") == station) & (F.col("variable") == variable))
    raw = F.col("obs_raw")
    d = d.withColumns(
        {
            "_acc": F.when(~F.col("is_flagged") & (raw > 0), raw),
            "_flg": F.when(F.col("is_flagged") & (raw > 0), raw),
        }
    )
    cols = ["obs_raw", "_acc", "_flg", "qcband_top", "qcband_bottom"]
    rows = bucketed_series(d, cols, max_points).get((station, variable), [])
    pct = d.agg(
        F.round(F.avg(raw.isNotNull().cast("double")) * 100, 1).alias("avail"),
        F.round(F.avg((F.col("obs_in") <= 0).cast("double")) * 100, 1).alias("masked"),
        F.round(F.avg(F.col("is_flagged").cast("double")) * 100, 1).alias("flagged"),
    ).first()
    fig = Figure(
        title=f"{station} — {variable} (sentemqc)",
        xlabel="Time",
        ylabel=variable,
        log_y=True,
        height=400,
    )
    fig.line(*_xy(rows, "obs_raw"), color=COLOR_RAW, lw=0.6, label="Raw")
    fig.line(*_xy(rows, "qcband_top"), color=COLOR_GREY, lw=0.8, label="QC band top")
    fig.line(*_xy(rows, "qcband_bottom"), color=COLOR_GREY, lw=0.8, label="QC band bottom")
    fig.markers(*_xy(rows, "_acc"), color=COLOR_ORANGE, size=1.2, label="Accepted")
    fig.markers(*_xy(rows, "_flg"), color=COLOR_BLUE, size=1.6, label="Flagged", shape="x")
    fig.annotate(
        f"Availability: {pct.avail or 0.0:.1f}%   Masked≤0: {pct.masked or 0.0:.1f}%   "
        f"Flagged: {pct.flagged or 0.0:.1f}%"
    )
    return save_figure(fig, os.path.join(out_dir, f"{sanitize_name(variable)}__sentemqc_combined"))
