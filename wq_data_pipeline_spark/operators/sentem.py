"""SentemQC operators (SURVEY.md §2 W12-W15, P4-P6, P11-P13): the
5-pass moving-band QC of the reference's scripts/sentemqc.py,
re-expressed as window algebra.

Design notes:
- Bands come from centered rolling mean/median + population std with
  pandas even-window (left-heavy) alignment — windows.centered.
- The triangular 5-point pass (W13) is an explicit lag/lead tap
  expression, NOT a window aggregate: a fixed expression tree is
  evaluated identically by any engine (deterministic fp), and it
  codegens without a sort-based frame scan.
- Flags use the reference's 100=OK / 200=flagged codes
  (scripts/sentemqc.py:41-54).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window, functions as F

from wq_data_pipeline_spark.operators.windows import (
    SERIES_KEYS,
    centered,
    centered_bounds,
    guard_min_periods,
    ordered,
)


@dataclass(frozen=True)
class BandPassCfg:
    """One QC-band pass (reference SENTEMQC_CONFIG, scripts/sentemqc.py:75):
    window w, scale factor sf, additive offsets ta (top) / bs (bottom),
    center statistic, and the uncertainty envelope."""

    window: int
    scale: float
    top_add: float = 0.0
    bottom_sub: float = 0.0
    stat: str = "mean"  # 'mean' | 'median' | 'tri5'
    unc_pct: float | None = 0.1  # relative uncertainty envelope
    unc_const: float | None = None  # absolute envelope (overrides pct)


# A faithful analog of the reference's five passes (long/long/medium-
# median/short/tri5 — scripts/sentemqc.py:89-108); window sizes are in
# points and map 1:1 at the reference's 15-min cadence.
DEFAULT_PASSES: tuple[BandPassCfg, ...] = (
    BandPassCfg(window=960, scale=4.0),
    BandPassCfg(window=960, scale=3.0),
    BandPassCfg(window=48, scale=3.0, stat="median"),
    BandPassCfg(window=5, scale=2.5),
    BandPassCfg(window=5, scale=2.0, stat="tri5"),
)


def premask_nonpositive(value: str | Column) -> Column:
    """P6: non-positive / non-finite -> NULL (scripts/sentemqc.py:82-83)."""
    v = F.col(value) if isinstance(value, str) else value
    return F.when(v.isNull() | F.isnan(v) | (v <= 0), None).otherwise(v)


def calibration_offset(value: str | Column, offset: float) -> Column:
    """P4: additive calibration (scripts/sentemqc.py:149-150)."""
    v = F.col(value) if isinstance(value, str) else value
    return v + F.lit(offset)


NITRATE_NO3_TO_N = 14.0 / 62.0


def nitrate_to_n(value: str | Column) -> Column:
    """P5: NO3 -> N conversion (scripts/sentemqc.py:85)."""
    v = F.col(value) if isinstance(value, str) else value
    return v * F.lit(NITRATE_NO3_TO_N)


def rolling_mean_std(
    df: DataFrame,
    value: str = "value",
    window: int = 48,
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    stat: str = "mean",
    minp: int | None = None,
    ma_col: str = "ma",
    sd_col: str = "sd",
) -> DataFrame:
    """W12: centered rolling mean (or exact median) + POPULATION std
    with pandas min_periods = max(3, ceil(w*0.3)) (reference
    rolling_mean_std_basic, scripts/sentemqc.py:25-30; std ddof=0)."""
    ma, sd = _rolling_mean_std_cols(value, window, keys, ts, stat, minp)
    return df.withColumns({ma_col: ma, sd_col: sd})


def _rolling_mean_std_cols(
    value: str,
    window: int,
    keys: Sequence[str],
    ts: str,
    stat: str = "mean",
    minp: int | None = None,
) -> tuple[Column, Column]:
    """(center, std) window expressions of :func:`rolling_mean_std`."""
    import math

    if minp is None:
        minp = max(3, math.ceil(window * 0.3))
    frame = centered(window, keys, ts)
    if stat == "median":
        center = F.percentile(F.col(value), F.lit(0.5)).over(frame)
    else:
        center = F.avg(value).over(frame)
    sd = F.stddev_pop(value).over(frame)
    return (
        guard_min_periods(center, value, frame, minp),
        guard_min_periods(sd, value, frame, minp),
    )


def rolling_mean_std_prefix(
    df: DataFrame,
    value: str = "value",
    window: int = 960,
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    minp: int | None = None,
    ma_col: str = "ma",
    sd_col: str = "sd",
) -> DataFrame:
    """O(n) rolling mean + population std via prefix sums — the scale
    path for wide windows.

    Spark's WindowExec evaluates a sliding ROWS frame by re-scanning
    the frame per row: O(n·w) — measured 64 s for ONE 1M-row series at
    w=960 vs 6.7 s at w=48 (the pandas reference's rolling sums are
    O(n)). Here the frame aggregate telescopes out of three RUNNING
    windows (count / sum / sum-of-squares of anchor-centered values)
    combined with lead/lag at the frame edges — O(n) total, one sort.

    Numerical note: contributions are centered on the series' first
    non-null value before accumulating, so the prefix subtraction
    cancels ~zero-mean partial sums (double precision error ~1e-12
    relative in practice, vs bit-exact direct frames). Use
    :func:`rolling_mean_std` where results feed a bit-exact
    cross-engine comparison; use this in the pipeline hot path.
    """
    ma, sd = _prefix_mean_std_cols(window, keys, ts, minp)
    return (
        df.withColumns(_prefix_sums(value, keys, ts))
        .withColumns({ma_col: ma, sd_col: sd})
        .drop(*_PREFIX_COLS)
    )


# running per-series sums behind the prefix-sum windows; they do not
# depend on the window width, so every wide pass shares one set
_PREFIX_COLS = ("_anchor", "_cc", "_cs", "_cs2")


def _prefix_sums(value: str, keys: Sequence[str], ts: str) -> dict[str, Column]:
    """The ``_PREFIX_COLS`` expressions over ``value``."""
    w_ord = ordered(keys, ts)
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = w_ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    v = F.col(value)
    anchor = F.first(v, ignorenulls=True).over(w_run)
    contrib = F.when(v.isNotNull(), v - anchor).otherwise(F.lit(0.0))
    return {
        "_anchor": F.first(v, ignorenulls=True).over(w_all),
        "_cc": F.sum(v.isNotNull().cast("long")).over(w_run),
        "_cs": F.sum(contrib).over(w_run),
        "_cs2": F.sum(contrib * contrib).over(w_run),
    }


def _prefix_mean_std_cols(
    window: int, keys: Sequence[str], ts: str, minp: int | None = None
) -> tuple[Column, Column]:
    """(mean, std) expressions of :func:`rolling_mean_std_prefix`,
    read from the ``_PREFIX_COLS`` columns."""
    import math

    if minp is None:
        minp = max(3, math.ceil(window * 0.3))
    lo, hi = centered_bounds(window)
    w_ord = ordered(keys, ts)
    w_all = w_ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    def windowed(cum: str, zero):
        upper = F.coalesce(
            F.lead(cum, hi).over(w_ord), F.last(cum).over(w_all)
        )
        lower = F.coalesce(F.lag(cum, 1 - lo).over(w_ord), F.lit(zero))
        return upper - lower

    c = windowed("_cc", 0)
    s = windowed("_cs", 0.0)
    s2 = windowed("_cs2", 0.0)
    mean = F.col("_anchor") + s / c.cast("double")
    var = F.greatest(
        s2 / c.cast("double") - (s / c.cast("double")) * (s / c.cast("double")),
        F.lit(0.0),
    )
    ok = c >= minp
    return F.when(ok, mean), F.when(ok, F.sqrt(var))


# WindowExec frame scans are O(n·w); beyond this width the prefix-sum
# form wins decisively (measured crossover well below 128 at 1M rows)
PREFIX_WINDOW_THRESHOLD = 128

TRI5_WEIGHTS = (1.0, 2.0, 3.0, 2.0, 1.0)


def tri5_mean_std(
    df: DataFrame,
    value: str = "value",
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    ma_col: str = "ma",
    sd_col: str = "sd",
    min_finite: int = 3,
) -> DataFrame:
    """W13: triangular-weighted 5-point mean/std, weights [1,2,3,2,1]
    over taps -2..+2, renormalized over the finite taps, >= 3 finite
    required (reference rolling_mean_std_tri5, scripts/sentemqc.py:31-39).

    Pure lag/lead tap algebra — one expression tree, no frame scan.
    """
    ma, sd = _tri5_cols(value, keys, ts, min_finite)
    return df.withColumns({ma_col: ma, sd_col: sd})


def _tri5_cols(
    value: str, keys: Sequence[str], ts: str, min_finite: int = 3
) -> tuple[Column, Column]:
    """(mean, std) expressions of :func:`tri5_mean_std`."""
    w = ordered(keys, ts)
    taps = [
        (F.lag(value, 2).over(w), TRI5_WEIGHTS[0]),
        (F.lag(value, 1).over(w), TRI5_WEIGHTS[1]),
        (F.col(value), TRI5_WEIGHTS[2]),
        (F.lead(value, 1).over(w), TRI5_WEIGHTS[3]),
        (F.lead(value, 2).over(w), TRI5_WEIGHTS[4]),
    ]
    n_fin = sum((t.isNotNull().cast("int") for t, _ in taps), F.lit(0))
    wsum = sum(
        (F.when(t.isNotNull(), F.lit(wt)).otherwise(0.0) for t, wt in taps), F.lit(0.0)
    )
    sx = sum((F.coalesce(t, F.lit(0.0)) * F.lit(wt) for t, wt in taps), F.lit(0.0))
    sxx = sum(
        (F.coalesce(t, F.lit(0.0)) * F.coalesce(t, F.lit(0.0)) * F.lit(wt) for t, wt in taps),
        F.lit(0.0),
    )
    m = sx / wsum
    var = sxx / wsum - m * m
    ok = n_fin >= min_finite
    return F.when(ok, m), F.when(ok, F.sqrt(F.greatest(var, F.lit(0.0))))


def band_columns(
    ma: str | Column,
    sd: str | Column,
    cfg: BandPassCfg,
) -> tuple[Column, Column]:
    """Band formula (scripts/sentemqc.py:92-93):
    top = ma + ta + sf·sd, bottom = ma − bs − sf·sd."""
    m = F.col(ma) if isinstance(ma, str) else ma
    s = F.col(sd) if isinstance(sd, str) else sd
    top = m + F.lit(cfg.top_add) + F.lit(cfg.scale) * s
    bottom = m - F.lit(cfg.bottom_sub) - F.lit(cfg.scale) * s
    return top, bottom


def uncertainty_overlap_flag(
    value: str | Column,
    top: str | Column,
    bottom: str | Column,
    cfg: BandPassCfg,
) -> Column:
    """W14 (scripts/sentemqc.py:94-102): flag 200 when the value's
    uncertainty envelope lies entirely above the top band or entirely
    below the bottom band; 100 otherwise. NULL inputs -> 100."""
    v = F.col(value) if isinstance(value, str) else value
    t = F.col(top) if isinstance(top, str) else top
    b = F.col(bottom) if isinstance(bottom, str) else bottom
    if cfg.unc_const is not None:
        hi, lo = v + F.lit(cfg.unc_const), v - F.lit(cfg.unc_const)
    else:
        p = cfg.unc_pct if cfg.unc_pct is not None else 0.0
        hi, lo = v * F.lit(1.0 + p), v * F.lit(1.0 - p)
    above = (hi > t) & (lo > t)
    below = (hi < b) & (lo < b)
    flagged = F.coalesce(above | below, F.lit(False))
    return F.when(flagged, 200).otherwise(100)


def sensor_error_flag(value: str | Column, code: int) -> Column:
    """P11 (scripts/sentemqc.py:40-50): per-sensor-code error rules,
    100/200 codes. NULL (non-finite at ingest) is always flagged for
    codes 400/410 per the reference's ~isfinite clause."""
    v = F.col(value) if isinstance(value, str) else value
    if code == 400:
        bad = v.isNull() | v.isin(30.0, 25.0, 0.0) | (v >= 40.0)
    elif code == 410:
        bad = v.isNull() | (v == 0.0) | (v >= 13.0) | (v < 0.0)
    elif code in (157787, 2477034, 2477787):
        bad = F.coalesce(v < 0.0, F.lit(False))
    else:
        bad = F.lit(False)
    return F.when(bad, 200).otherwise(100)


def combine_flags_200(*flags: Column) -> Column:
    """P12 (scripts/sentemqc.py:51-54): 200 if any component is 200."""
    return F.when(F.greatest(*flags) == 200, 200).otherwise(100)


def flag_reasons(named_flags: dict[str, Column]) -> Column:
    """P13 (scripts/sentemqc.py:55-60): space-joined names of flagged
    components."""
    parts = [F.when(c == 200, F.lit(name)) for name, c in named_flags.items()]
    return F.trim(F.concat_ws(" ", *parts))


def _with_band_stats(
    df: DataFrame,
    passes: Sequence[tuple[str, BandPassCfg]],
    value: str,
    keys: Sequence[str],
    ts: str,
) -> tuple[DataFrame, list[str]]:
    """Add each tagged pass's center/std as ``_ma{tag}``/``_sd{tag}``
    in as few plan steps as possible: one projection of the prefix
    sums every wide mean window (>= PREFIX_WINDOW_THRESHOLD) shares,
    one projection of all window expressions. Returns the frame and
    the helper columns to drop."""
    helpers: list[str] = []
    stats: dict[str, Column] = {}
    prefix = False
    for tag, cfg in passes:
        ma, sd = f"_ma{tag}", f"_sd{tag}"
        helpers += [ma, sd]
        if cfg.stat == "tri5":
            stats[ma], stats[sd] = _tri5_cols(value, keys, ts)
        elif cfg.stat == "mean" and cfg.window >= PREFIX_WINDOW_THRESHOLD:
            prefix = True
            stats[ma], stats[sd] = _prefix_mean_std_cols(cfg.window, keys, ts)
        else:
            stats[ma], stats[sd] = _rolling_mean_std_cols(
                value, cfg.window, keys, ts, stat=cfg.stat
            )
    d = df
    if prefix:
        d = d.withColumns(_prefix_sums(value, keys, ts))
        helpers += _PREFIX_COLS
    return d.withColumns(stats), helpers


def apply_sentemqc(
    df: DataFrame,
    value: str = "value",
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    passes: Sequence[BandPassCfg] = DEFAULT_PASSES,
    sensor_code: int | None = None,
) -> DataFrame:
    """The reference's apply_sentemqc_to_series pipeline
    (scripts/sentemqc.py:80-114): pre-mask -> per-pass band flags ->
    combined flag + reasons + masked value. Returns the input plus
    ``flag_sensor`` (when ``sensor_code`` is given), ``flag_run{i}``,
    ``qcband_top``/``qcband_bottom`` (the last pass's bands, NULL where
    its min-periods guard fails — W15), ``flag_global``,
    ``is_flagged``, ``flag_reason`` and ``value_masked``.

    Every pass reads only the pre-masked value, so all passes' bands
    are built side by side: one window projection for the centers and
    stds, one for the per-pass flags, one for the combined columns."""
    d = df.withColumn(value, premask_nonpositive(value))
    tagged = [(str(i), cfg) for i, cfg in enumerate(passes, start=1)]
    d, helpers = _with_band_stats(d, tagged, value, keys, ts)
    flags: dict[str, Column] = {}
    if sensor_code is not None:
        flags["flag_sensor"] = sensor_error_flag(value, sensor_code)
    for tag, cfg in tagged:
        top, bottom = band_columns(f"_ma{tag}", f"_sd{tag}", cfg)
        flags[f"flag_run{tag}"] = uncertainty_overlap_flag(value, top, bottom, cfg)
    d = d.withColumns({**flags, "qcband_top": top, "qcband_bottom": bottom})
    named = {name: F.col(name) for name in flags}
    glob = combine_flags_200(*named.values())
    flagged = glob == 200
    return d.withColumns(
        {
            "flag_global": glob,
            "is_flagged": flagged,
            "flag_reason": flag_reasons(named),
            "value_masked": F.when(flagged, None).otherwise(F.col(value)),
        }
    ).drop(*helpers)
