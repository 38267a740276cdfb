"""S7 figure sinks: the reference's per-variable figure set
(scripts/ufz_water_qc_pipeline.py:706-728 — ``{var}__00_raw`` ..
``{var}__08_accepted``) and the sentemqc combined log plot
(scripts/sentemqc.py:117-142, emitted by run_sentemqc_on_dataframe).

Scale contract: every collect here is bounded —
- series plots collect a time-BUCKETED aggregate (<= ``max_points``
  rows per series, computed cluster-side), never the raw series;
- the histogram / seasonal / availability inputs are already per-key
  aggregates (10 bins, 4 seasons, 1 row);
- event spans are capped at ``max_spans`` newest events.
At 100 TB the driver still only ever sees O(pixels) rows per figure.

Backend: matplotlib when importable (PNG, like the reference), else
the stdlib SVG kit in :mod:`wq_data_pipeline_spark.report.svgplot`.
The figure content is identical; only the rasterizer differs.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from wq_data_pipeline_spark.functions.scalars import sanitize_name
from wq_data_pipeline_spark.operators.windows import gaussian_smooth
from wq_data_pipeline_spark.report import svgplot as SP
from wq_data_pipeline_spark.report.svgplot import (
    COLOR_BLUE,
    COLOR_GREY,
    COLOR_ORANGE,
    COLOR_RAW,
    Figure,
)

try:  # optional PNG backend — not in this container
    import matplotlib

    matplotlib.use("Agg")
    import matplotlib.pyplot as plt

    HAVE_MPL = True
except ImportError:
    HAVE_MPL = False

KEYS = ["station", "variable"]
SEASON_ORDER = ["DJF", "MAM", "JJA", "SON"]


# ---------------------------------------------------------------- downsample
def downsample_series(
    df: DataFrame,
    value_cols: Sequence[str],
    ts: str = "ts",
    max_points: int = 1100,
) -> list:
    """Cluster-side time-bucket downsample of ONE series: bucket the
    time span into <= max_points buckets, avg each value col per
    bucket. The collect returns O(max_points) rows whatever the input
    size — the scale contract of every series figure."""
    bounds = df.agg(
        F.min(F.unix_micros(ts)).alias("lo"), F.max(F.unix_micros(ts)).alias("hi")
    ).first()
    if bounds.lo is None:
        return []
    lo, hi = bounds.lo, max(bounds.hi, bounds.lo + 1)
    step = max(1, (hi - lo) // max_points + 1)
    b = ((F.unix_micros(ts) - F.lit(lo)) / F.lit(step)).cast("long")
    aggs = [F.avg(c).alias(c) for c in value_cols]
    return (
        df.groupBy(b.alias("_b"))
        .agg(*aggs)
        .select((F.col("_b") * step + lo).alias("ts_us"), *value_cols)
        .orderBy("ts_us")
        .collect()
    )


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
        path = base + ".svg"
        with open(path, "w") as f:
            f.write(fig.to_svg())
        return path
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
def _series_fig(rows, col, title, ylabel, color=COLOR_RAW, label=None) -> Figure:
    fig = Figure(title=title, ylabel=ylabel, xlabel="Time")
    xs, ys = _xy(rows, col)
    fig.line(xs, ys, color=color, lw=0.8, label=label)
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
    ``out_dir/<sanitized station>/`` with the reference's
    ``{var}__NN_name`` basenames, so stations sharing a variable name
    do not overwrite each other. Returns written paths."""
    from wq_data_pipeline_spark.operators.stats import decimal_histogram

    os.makedirs(out_dir, exist_ok=True)
    written: list[str] = []
    series = [
        (r.station, r.variable)
        for r in qc.select(*KEYS).distinct().orderBy(*KEYS).collect()
    ]
    for station, variable in series:
        d = qc.filter((F.col("station") == station) & (F.col("variable") == variable))
        station_dir = os.path.join(out_dir, sanitize_name(station))
        os.makedirs(station_dir, exist_ok=True)
        pre = os.path.join(station_dir, f"{sanitize_name(variable)}__")

        # one bucketed pass shared by 00/01/08 + the gaussian figure
        gs = gaussian_smooth(d, "clean", KEYS).drop("filled")
        rows = downsample_series(
            gs, ["raw", "clean", "accepted", "smooth", "residual"], max_points=max_points
        )

        f0 = _series_fig(rows, "raw", f"{variable} Raw", variable)
        written.append(save_figure(f0, pre + "00_raw"))

        f1 = _series_fig(rows, "clean", f"{variable} After sentinels+gaps", variable)
        n_tot, n_clean = d.agg(
            F.count("raw").alias("a"), F.count("clean").alias("b")
        ).first()
        f1.annotate(f"raw n={n_tot}  clean n={n_clean}  nulled={n_tot - n_clean}")
        written.append(save_figure(f1, pre + "01_clean"))

        # 02: decimal histogram (A4 operator — 10-row collect)
        hist = {
            r.bin: r.bin_count
            for r in decimal_histogram(d, KEYS, "clean").collect()
        }
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
            [float(hist.get(b, 0)) for b in range(10)],
            width=0.1,
        )
        written.append(save_figure(f2, pre + "02_decimal_hist"))

        # 03: |successive diff| (computed cluster-side, then bucketed)
        w = Window.partitionBy(*KEYS).orderBy("ts")
        dd = d.withColumn("adiff", F.abs(F.col("clean") - F.lag("clean").over(w)))
        drows = downsample_series(dd, ["adiff"], max_points=max_points)
        f3 = Figure(
            title="Absolute successive differences",
            xlabel="Time",
            ylabel="|Δ|",
            width=560,
            height=240,
        )
        f3.line(*_xy(drows, "adiff"), color=COLOR_BLUE, lw=0.6)
        written.append(save_figure(f3, pre + "03_quant_diffs"))

        # 04: flat events — raw + span overlays (bounded collect)
        ev = (
            events.filter(
                (F.col("station") == station) & (F.col("variable") == variable)
            )
            .select("type", F.unix_micros("start").alias("s"), F.unix_micros("end").alias("e"))
            .orderBy(F.desc("s"))
            .limit(max_spans)
            .collect()
        )
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

        # 06: seasonal coverage heatmap (4-row collect of A7 output)
        cov = {
            r.season: r.coverage_pct
            for r in seasonal.filter(
                (F.col("station") == station) & (F.col("variable") == variable)
            )
            .select("season", "coverage_pct")
            .collect()
        }
        svg = SP.heatmap_svg(
            SEASON_ORDER,
            [float(cov.get(s, 0.0) or 0.0) for s in SEASON_ORDER],
            f"{station} — {variable} coverage [%]",
            "all years",
        )
        written.append(_save_svg_str(svg, pre + "06_seasonal_coverage"))

        # 07: WRTDS buster (opt-in: the fit is the pipeline's one
        # heavy pandas-UDF stage; reference gates it the same way)
        if include_wrtds:
            written.append(
                _render_wrtds_fig(d, pre + "07_wrtds_buster", max_points)
            )

        # 08: accepted mask
        f8 = _series_fig(rows, "accepted", f"{variable} Accepted mask", variable)
        written.append(save_figure(f8, pre + "08_accepted"))
    return written


def _render_wrtds_fig(d: DataFrame, base: str, max_points: int) -> str:
    """WRTDS residuals + robust-z anomalies (reference wrtds_buster
    plot, scripts/ufz_water_qc_pipeline.py:624-639)."""
    from wq_data_pipeline_spark.operators.wrtds import wrtds_buster, wrtds_residuals

    res = wrtds_residuals(d.select(*KEYS, "ts", F.col("clean").alias("value")), KEYS)
    rows = downsample_series(res, ["value", "residual"], max_points=max_points)
    spikes = (
        wrtds_buster(res, KEYS)
        .orderBy(F.desc(F.abs("robust_z")))
        .limit(2000)
        .select(F.unix_micros("ts").alias("ts_us"), "residual")
        .collect()
    )
    fig = Figure(
        title="WRTDS-proxy residuals and anomalies", xlabel="Time", height=400
    )
    fig.line(*_xy(rows, "value"), color=COLOR_RAW, lw=0.6, label="Raw")
    fig.line(*_xy(rows, "residual"), color=COLOR_BLUE, lw=0.8, label="Residual")
    fig.markers(
        [r.ts_us for r in spikes],
        [r.residual for r in spikes],
        color=COLOR_ORANGE,
        size=2.0,
        label="Anomaly",
    )
    return save_figure(fig, base)


def render_sentemqc_figure(
    sq: DataFrame,
    out_dir: str,
    station: str,
    variable: str,
    top_col: str = "qcband_top",
    bottom_col: str = "qcband_bottom",
    value_col: str = "value",
    max_points: int = 1100,
    title: str | None = None,
) -> str:
    """The sentemqc combined log plot (plot_combined_log_gap,
    scripts/sentemqc.py:117-142): raw line, QC band envelope, accepted
    dots vs flagged crosses, availability/mask/flag annotation. ``sq``
    is :func:`operators.sentem.apply_sentemqc` output for ONE series
    (plus band columns from the last pass)."""
    os.makedirs(out_dir, exist_ok=True)
    d = sq.filter((F.col("station") == station) & (F.col("variable") == variable))
    if value_col != "value":
        d = d.withColumn("value", F.col(value_col))
    d = d.withColumn(
        "_acc", F.when(~F.col("is_flagged") & (F.col("value") > 0), F.col("value"))
    ).withColumn(
        "_flg", F.when(F.col("is_flagged") & (F.col("value") > 0), F.col("value"))
    )
    cols = ["value", "_acc", "_flg"] + [
        c for c in (top_col, bottom_col) if c in sq.columns
    ]
    rows = downsample_series(d, cols, max_points=max_points)
    pct = d.agg(
        F.round(F.avg(F.col("value").isNotNull().cast("double")) * 100, 1).alias("avail"),
        F.round(F.avg((F.col("value") <= 0).cast("double")) * 100, 1).alias("masked"),
        F.round(F.avg(F.col("is_flagged").cast("double")) * 100, 1).alias("flagged"),
    ).first()
    fig = Figure(
        title=title or f"{station} — {variable} (sentemqc)",
        xlabel="Time",
        ylabel=variable,
        log_y=True,
        height=400,
    )
    fig.line(*_xy(rows, "value"), color=COLOR_RAW, lw=0.6, label="Raw")
    if top_col in sq.columns:
        fig.line(*_xy(rows, top_col), color=COLOR_GREY, lw=0.8, label="QC band top")
        fig.line(*_xy(rows, bottom_col), color=COLOR_GREY, lw=0.8, label="QC band bottom")
    fig.markers(*_xy(rows, "_acc"), color=COLOR_ORANGE, size=1.2, label="Accepted")
    fig.markers(*_xy(rows, "_flg"), color=COLOR_BLUE, size=1.6, label="Flagged", shape="x")
    fig.annotate(
        f"Availability: {pct.avail or 0.0:.1f}%   Masked≤0: {pct.masked or 0.0:.1f}%   "
        f"Flagged: {pct.flagged or 0.0:.1f}%"
    )
    base = os.path.join(
        out_dir, f"{sanitize_name(variable)}__sentemqc_combined"
    )
    return save_figure(fig, base)
