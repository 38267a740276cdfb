"""Per-series QC kernel: the QC pipeline's clean stage, fallback flag
suite, SentemQC passes, event detectors, seasonal summary, meta and
figure inputs as numpy functions over ONE series.

A series is given sorted by ``ts`` (int64 epoch microseconds, unique
after the clean stage) with float64 values, NaN standing for NULL.
``plans/qc_pipeline.py`` runs :func:`series_table` once per (station,
variable) group through ``applyInArrow``: one Python-worker pass
gives each series' QC long rows, events, seasonal summary and meta,
instead of a chain of Spark window passes and aggregates. The QC
figures (``report/figures.py``) run :func:`figure_table` over each
series and its events in one cogrouped pass. The EP3 runner
(``plans/sentem_pipeline.py``) runs :func:`sentemqc_table` the same
way, with each sensor code's passes.

:func:`series_table` returns a series as ONE row, its long rows a
list column, so the JVM holds the whole series in one ``UnsafeRow``,
which must stay under 2 GB (``BufferHolder``'s limit,
``Integer.MAX_VALUE`` − 15 bytes). ``UnsafeRow.getSizeInBytes`` of the
row of a 10k- and a 100k-point 15-minute series gives 112 bytes per
point with SentemQC on and 88 without (8 bytes of list offset plus a
row of 12 or 9 fixed-width fields), so a series tops out near 19M
points with SentemQC (about 540 years at 15 minutes) and 24M without.
A SentemQC reason adds its length rounded up to 8 bytes, 56 when it
names all five passes, so a series flagged everywhere stops near 12.7M
points.

The clean stage, the detectors and the report functions reproduce the
Spark Column algebra of the same name, which the catalog still runs:
``operators/clean.py``, ``operators/detectors.py``,
``stats.seasonal_stats``, ``stats.decimal_histogram``,
``windows.gaussian_smooth`` and ``figures.bucketed_series``. They
follow Spark's arithmetic, so both engines give the same floats:

- a frame or group aggregate folds its rows in row order, as
  WindowExec and a one-partition aggregate do: sums from 0.0
  (``sum``/``avg``), Welford updates (``var_samp``, ``stddev_pop``);
- exact medians interpolate the middle pair (Spark ``percentile`` and
  pandas' rolling median agree);
- ``round`` is HALF_UP on the shortest decimal form of the double.

The SentemQC band passes (:func:`sentemqc_series`) have no Column
twin; the tests hold them to pandas' centred rolling mean, median and
population std and to a numpy transcription of the reference's
triangular 5-point pass.

The arrays hold NaN for NULL; the ``*_table`` functions turn every
float column back into Arrow with a null mask, so NaN never leaves
the kernel. :func:`series_table` and :func:`figure_table` return one
row per series whose list columns hold the series' rows.
"""

from __future__ import annotations

import json
import math
from collections.abc import Sequence
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from wq_data_pipeline_spark.operators.clean import DEFAULT_SENTINELS
from wq_data_pipeline_spark.operators.sentem import TRI5_WEIGHTS
from wq_data_pipeline_spark.operators.windows import GAUSS_TAPS, GAUSS_WEIGHTS, centered_bounds

# Detector parameters: the reference's exact fallback-suite values,
# durations converted at its 15-min default step (_to_points, :144-147).
SENTINELS = DEFAULT_SENTINELS
SENTINEL_MIN_COUNT = 5
SENTINEL_MIN_FRAC = 0.001
FLAT_ATOL = 0.0
FLAT_MIN_HOURS = 2.0  # constants/plateau '2h'
Z_WINDOW_POINTS = 96  # zscore '24h'
JUMP_THRESH = 5.0  # reference flagJumps default (:565)
SLOPE_WINDOW_POINTS = 25
SLOPE_ABS = 1e-10
SLOPE_T_ORIGIN_S = 1.7e9  # see windows.rolling_ols_slope
ZERO_TOL = 1e-12  # binary-switch zero band
VAR_WINDOW_POINTS = 24  # variance '6h'
VAR_TOL = 1e-12
ISOLATED_GROUP_POINTS = 2  # isolated '30min' group
ISOLATED_GAP_SECONDS = 3 * 3600.0  # isolated '3h' gap

_US_PER_S = 1e6
_US_PER_HOUR = 3.6e9


# ------------------------------------------------------------------ frames
def _shift(x: np.ndarray, k: int) -> np.ndarray:
    """``x[i + k]`` for every row i; NaN where i + k is outside the series."""
    n = len(x)
    out = np.full(n, np.nan)
    if abs(k) < n:
        if k >= 0:
            out[: n - k] = x[k:]
        else:
            out[-k:] = x[: n + k]
    return out


def _frame_sum(x: np.ndarray, lo: int, hi: int) -> tuple[np.ndarray, np.ndarray]:
    """Sum and count of the non-NaN values in each row's frame
    ``[i + lo, i + hi]``, added in row order from 0.0."""
    s = np.zeros(len(x))
    c = np.zeros(len(x), np.int64)
    for k in range(lo, hi + 1):
        t = _shift(x, k)
        ok = ~np.isnan(t)
        s = np.where(ok, s + t, s)
        c += ok
    return s, c


def _frame_moments(x: np.ndarray, lo: int, hi: int) -> tuple[np.ndarray, np.ndarray]:
    """Count and centred sum of squares (n, m2) of the non-NaN values in
    each row's frame, folded in row order with Spark's central-moment
    update."""
    n, avg, m2 = np.zeros(len(x)), np.zeros(len(x)), np.zeros(len(x))
    for k in range(lo, hi + 1):
        t = _shift(x, k)
        ok = ~np.isnan(t)
        n1 = n + 1.0
        delta = t - avg
        delta_n = delta / n1
        avg = np.where(ok, avg + delta_n, avg)
        m2 = np.where(ok, m2 + delta * (delta - delta_n), m2)
        n = np.where(ok, n1, n)
    return n, m2


def _rolling_median(x: np.ndarray, window: int, minp: int) -> np.ndarray:
    """Centred rolling median (pandas even-window alignment, see
    ``windows.centered_bounds``), NaN under ``minp`` values."""
    rolled = pd.Series(x, dtype=float).rolling(window, center=True, min_periods=minp)
    return rolled.median().to_numpy()


def robust_z(x: np.ndarray, window_points: int) -> np.ndarray:
    """Rolling robust z (W8) of one series: 0.6745·(x − med) / MAD over
    a centred window, min_periods max(5, w//3); NaN where the MAD is 0
    or undefined. pandas' rolling median is a C skiplist, O(n·log w).

    Reference _fallback_flag_zscore, scripts/ufz_water_qc_pipeline.py:415-422."""
    minp = max(5, window_points // 3)
    med = _rolling_median(x, window_points, minp)
    mad = _rolling_median(np.abs(x - med), window_points, minp)
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(mad > 0, 0.6745 * (x - med) / mad, np.nan)


def _runs(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """First and last row index of each maximal run of True."""
    d = np.diff(np.concatenate(([0], mask.astype(np.int8), [0])))
    return np.flatnonzero(d == 1), np.flatnonzero(d == -1) - 1


def _run_ends(ts: np.ndarray, first: np.ndarray, last: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Each run's end row (the first row after it, or its own last row
    at the series end, reference :217) and its duration in hours."""
    end = np.minimum(last + 1, len(ts) - 1)
    return end, (ts[end] - ts[first]) / _US_PER_HOUR


def _span_mask(n: int, first: np.ndarray, last: np.ndarray) -> np.ndarray:
    """True on the rows ``first[j]..last[j]`` of every (disjoint) run j."""
    d = np.zeros(n + 1, np.int64)
    d[first] += 1
    d[last + 1] -= 1
    return np.cumsum(d[:n]) > 0


# ------------------------------------------------------------------ clean
def _median(g: np.ndarray) -> float:
    """Exact median of the non-NaN values, Spark ``percentile``'s
    interpolation; NaN when there is none."""
    v = np.sort(g[~np.isnan(g)])
    if not len(v):
        return np.nan
    pos = 0.5 * (len(v) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    if lo == hi:
        return float(v[lo])
    return (hi - pos) * v[lo] + (pos - lo) * v[hi]


def _active_sentinels(value: np.ndarray) -> list[float]:
    """The series' ACTIVE sentinels, ascending: matched by at least
    SENTINEL_MIN_COUNT values or SENTINEL_MIN_FRAC of the rows
    (``clean.active_sentinel_array``)."""
    n = max(len(value), 1)
    return sorted(
        s for s in SENTINELS
        if (c := np.count_nonzero(value == s)) >= SENTINEL_MIN_COUNT or c / n >= SENTINEL_MIN_FRAC
    )


def clean_series(
    ts: np.ndarray, value: np.ndarray, max_gap_seconds: float
) -> dict[str, np.ndarray]:
    """Sentinels -> duplicate median -> gap-null (``clean.mask_sentinels``,
    ``resolve_duplicates``, ``classify_gaps``, ``null_gap_values``) over
    one series sorted by ``ts``. Returns one row per distinct ts:
    ``ts``, ``raw`` (post-dedup, pre-gap-null), ``clean``,
    ``dup_count``, ``gap_seconds`` (NaN at the series start),
    ``is_gap`` and ``row`` (the first input row of each ts)."""
    v = np.where(np.isin(value, _active_sentinels(value)), np.nan, value)
    uts, row, dup_count = np.unique(ts, return_index=True, return_counts=True)
    raw = v[row]
    for i in np.flatnonzero(dup_count > 1):
        raw[i] = _median(v[row[i] : row[i] + dup_count[i]])
    gap = np.full(len(uts), np.nan)
    gap[1:] = np.diff(uts) / _US_PER_S
    is_gap = gap > max_gap_seconds
    return {
        "ts": uts,
        "raw": raw,
        "clean": np.where(is_gap, np.nan, raw),
        "dup_count": dup_count.astype(np.int64),
        "gap_seconds": gap,
        "is_gap": is_gap,
        "row": row,
    }


# ------------------------------------------------------------------ flags
def _flat_steps(x: np.ndarray) -> np.ndarray:
    """True where a row equals its predecessor within FLAT_ATOL; the
    first row and NaN rows never are."""
    eq = np.zeros(len(x), bool)
    eq[1:] = np.abs(np.diff(x)) <= FLAT_ATOL
    return eq


def flat_run_mask(ts: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Rows from a flat run's start to the first row after it, for runs
    lasting >= FLAT_MIN_HOURS (``detectors.flat_run_mask``)."""
    first, last = _runs(_flat_steps(x))
    _, hours = _run_ends(ts, first, last)
    keep = hours >= FLAT_MIN_HOURS
    q = _span_mask(len(x), first[keep], last[keep])
    q[1:] |= q[:-1]
    return q


def variance_flag(x: np.ndarray) -> np.ndarray:
    """Centred rolling sample variance <= VAR_TOL (``detectors.flag_variance``)."""
    lo, hi = centered_bounds(VAR_WINDOW_POINTS)
    n, m2 = _frame_moments(x, lo, hi)
    ok = n >= max(3, VAR_WINDOW_POINTS // 3)
    return ok & (m2 / np.where(ok, n - 1.0, 1.0) <= VAR_TOL)


def isolated_flag(ts: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Finite groups of <= ISOLATED_GROUP_POINTS rows with a measured
    gap > ISOLATED_GAP_SECONDS on both sides
    (``detectors.detect_isolated_groups``)."""
    first, last = _runs(~np.isnan(x))
    n = len(x)
    before = np.zeros(len(first), bool)
    after = np.zeros(len(first), bool)
    has_before, has_after = first > 0, last < n - 1
    before[has_before] = (
        ts[first[has_before]] - ts[first[has_before] - 1]
    ) / _US_PER_S > ISOLATED_GAP_SECONDS
    after[has_after] = (
        ts[last[has_after] + 1] - ts[last[has_after]]
    ) / _US_PER_S > ISOLATED_GAP_SECONDS
    keep = (last - first + 1 <= ISOLATED_GROUP_POINTS) & before & after
    return _span_mask(n, first[keep], last[keep])


def flag_series(
    ts: np.ndarray,
    x: np.ndarray,
    z_thresh: float,
    value_range: tuple[float, float] | None,
    full_suite: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """Fallback flag suite (apply_saqc_suite semantics, :459-589) over
    the clean series: ``(f_z, flagged)``, where ``flagged`` ORs
    robust z, missing and the range (when given), plus jumps, the
    flat-run mask (constants and plateau), variance and isolated
    groups under the full suite. uniLOF is the robust-z flag
    (reference :455-457), already in the OR."""
    f_z = np.abs(robust_z(x, Z_WINDOW_POINTS)) >= z_thresh
    flagged = f_z | np.isnan(x)
    if value_range is not None:
        lo, hi = value_range
        flagged |= (x < lo) | (x > hi)
    if full_suite:
        flagged[1:] |= np.abs(np.diff(x)) >= JUMP_THRESH
        flagged |= flat_run_mask(ts, x) | variance_flag(x) | isolated_flag(ts, x)
    return f_z, flagged


# ------------------------------------------------------------------ SentemQC
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

# Mean windows at least this wide come from prefix sums, O(n) whatever
# the width; narrower ones add their frame directly, O(n·w) but without
# the prefix difference's cancellation error (~1e-12 relative).
PREFIX_WINDOW_THRESHOLD = 128


def _premask(x: np.ndarray) -> np.ndarray:
    """P6: non-positive and NULL values -> NaN (scripts/sentemqc.py:82-83)."""
    return np.where(x > 0, x, np.nan)


def _prefix_sums(v: np.ndarray) -> dict[str, np.ndarray | float]:
    """Running count, sum and sum of squares of the values centred on
    the series' first value, so the prefix differences cancel
    near-zero partial sums."""
    ok = ~np.isnan(v)
    anchor = v[ok][0] if ok.any() else np.nan
    contrib = np.where(ok, v - anchor, 0.0)
    return {
        "anchor": anchor,
        "cc": np.cumsum(ok.astype(np.int64)),
        "cs": np.cumsum(contrib),
        "cs2": np.cumsum(contrib * contrib),
    }


def _prefix_mean_std(p: dict, window: int, minp: int) -> tuple[np.ndarray, np.ndarray]:
    """Centred rolling mean and population std telescoped out of the
    prefix sums :func:`_prefix_sums`."""
    lo, hi = centered_bounds(window)
    n = len(p["cc"])
    rows = np.arange(n)
    upper = np.minimum(rows + hi, n - 1)
    lower = rows - (1 - lo)
    has_lower = lower >= 0

    def windowed(cum):
        below = np.where(has_lower, cum[np.maximum(lower, 0)], 0)
        return cum[upper] - below

    c = windowed(p["cc"]).astype(float)
    s, s2 = windowed(p["cs"]), windowed(p["cs2"])
    mean = p["anchor"] + s / c
    var = np.maximum(s2 / c - (s / c) * (s / c), 0.0)
    ok = c >= minp
    return np.where(ok, mean, np.nan), np.where(ok, np.sqrt(var), np.nan)


def _tri5_mean_std(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Triangular 5-point mean and std over the finite taps, >= 3 of them
    (reference rolling_mean_std_tri5, scripts/sentemqc.py:31-39; the
    catalog's ``sentem.tri5_mean_std`` adds the taps in the same order)."""
    n_fin = np.zeros(len(v), np.int64)
    wsum, sx, sxx = np.zeros(len(v)), np.zeros(len(v)), np.zeros(len(v))
    for k, wt in zip(range(-2, 3), TRI5_WEIGHTS):
        t = _shift(v, k)
        ok = ~np.isnan(t)
        t0 = np.where(ok, t, 0.0)
        n_fin += ok
        wsum = wsum + np.where(ok, wt, 0.0)
        sx = sx + t0 * wt
        sxx = sxx + t0 * t0 * wt
    m = sx / wsum
    var = sxx / wsum - m * m
    ok = n_fin >= 3
    return np.where(ok, m, np.nan), np.where(ok, np.sqrt(np.maximum(var, 0.0)), np.nan)


def band_stats(v: np.ndarray, cfg: BandPassCfg, prefix: dict) -> tuple[np.ndarray, np.ndarray]:
    """Centre and population std of one band pass (W12/W13: centred
    window, pandas even-window alignment, NaN under
    max(3, ceil(0.3·w)) values); ``prefix`` is :func:`_prefix_sums` of
    ``v``."""
    if cfg.stat == "tri5":
        return _tri5_mean_std(v)
    minp = max(3, math.ceil(cfg.window * 0.3))
    if cfg.stat == "mean" and cfg.window >= PREFIX_WINDOW_THRESHOLD:
        return _prefix_mean_std(prefix, cfg.window, minp)
    lo, hi = centered_bounds(cfg.window)
    n, m2 = _frame_moments(v, lo, hi)
    if cfg.stat == "median":
        center = _rolling_median(v, cfg.window, minp)
    else:
        s, c = _frame_sum(v, lo, hi)
        center = s / c
    ok = n >= minp
    return np.where(ok, center, np.nan), np.where(ok, np.sqrt(m2 / n), np.nan)


def _overlap_flag(
    v: np.ndarray, top: np.ndarray, bottom: np.ndarray, cfg: BandPassCfg
) -> np.ndarray:
    """W14 (scripts/sentemqc.py:94-102): the value's uncertainty
    envelope, absolute (``unc_const``) or relative (``unc_pct``), lies
    wholly above the top band or wholly below the bottom band."""
    if cfg.unc_const is not None:
        hi, lo = v + cfg.unc_const, v - cfg.unc_const
    else:
        p = cfg.unc_pct if cfg.unc_pct is not None else 0.0
        hi, lo = v * (1.0 + p), v * (1.0 - p)
    return ((hi > top) & (lo > top)) | ((hi < bottom) & (lo < bottom))


def sentemqc_series(
    x: np.ndarray, passes: Sequence[BandPassCfg] = DEFAULT_PASSES
) -> tuple[list[np.ndarray], np.ndarray, np.ndarray]:
    """The SentemQC band passes over one series (the reference's
    apply_sentemqc_to_series, scripts/sentemqc.py:80-114, without the
    sensor rules): every pass reads the pre-masked value. Returns each
    pass's flag and the last pass's ``(top, bottom)`` bands, NaN where
    its min-periods guard fails (W15)."""
    v = _premask(x)
    prefix = _prefix_sums(v)
    flags = []
    for cfg in passes:
        ma, sd = band_stats(v, cfg, prefix)
        top = (ma + cfg.top_add) + cfg.scale * sd
        bottom = (ma - cfg.bottom_sub) - cfg.scale * sd
        flags.append(_overlap_flag(v, top, bottom, cfg))
    return flags, top, bottom


def _flag_reasons(flags: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """(any flag, space-joined ``flag_run{i}`` names of the flags set)."""
    code = np.zeros(len(flags[0]), np.int64)
    for i, f in enumerate(flags):
        code |= f.astype(np.int64) << i
    names = [f"flag_run{i}" for i in range(1, len(flags) + 1)]
    codes, inverse = np.unique(code, return_inverse=True)
    reasons = np.array(
        [" ".join(nm for i, nm in enumerate(names) if c >> i & 1) for c in codes], dtype=object
    )
    return code > 0, reasons[inverse]


# ------------------------------------------------------------------ events
def rolling_slope(ts: np.ndarray, x: np.ndarray, window: int) -> np.ndarray:
    """Centred rolling OLS slope of x against time in seconds, NaN under
    max(5, w//3) finite points or a zero denominator
    (``windows.rolling_ols_slope``)."""
    lo, hi = centered_bounds(window)
    t = ts.astype(float) / _US_PER_S - SLOPE_T_ORIGIN_S
    t_obs = np.where(np.isnan(x), np.nan, t)
    st, c = _frame_sum(t_obs, lo, hi)
    sy, _ = _frame_sum(x, lo, hi)
    sty, _ = _frame_sum(t_obs * x, lo, hi)
    stt, _ = _frame_sum(t_obs * t_obs, lo, hi)
    n = c.astype(float)
    denom = n * stt - st * st
    ok = (n >= max(5, window // 3)) & (denom != 0)
    return np.where(ok, (n * sty - st * sy) / np.where(ok, denom, 1.0), np.nan)


def flat_value_events(ts: np.ndarray, x: np.ndarray) -> dict[str, np.ndarray]:
    """Flat-value runs lasting >= FLAT_MIN_HOURS (``detectors.detect_flat_runs``)."""
    first, last = _runs(_flat_steps(x))
    end, hours = _run_ends(ts, first, last)
    k = hours >= FLAT_MIN_HOURS
    return {
        "start": ts[first[k]], "end": ts[end[k]], "hours": hours[k],
        "value": x[first[k]], "n_points": (last - first + 1)[k],
    }


def binary_switch_events(ts: np.ndarray, x: np.ndarray) -> dict[str, np.ndarray]:
    """Zero runs whose clamped neighbours are both finite and not both
    zero (``detectors.detect_binary_switches``)."""
    first, last = _runs(~np.isnan(x) & (np.abs(x) <= ZERO_TOL))
    pre, post = np.maximum(first - 1, 0), np.minimum(last + 1, len(x) - 1)
    pre_val, post_val = x[pre], x[post]
    k = (
        ~np.isnan(pre_val) & ~np.isnan(post_val)
        & ((np.abs(pre_val) > ZERO_TOL) | (np.abs(post_val) > ZERO_TOL))
    )
    return {
        "start": ts[first[k]], "end": ts[last[k]], "pre": ts[pre[k]], "post": ts[post[k]],
        "pre_val": pre_val[k], "post_val": post_val[k], "n_points": (last - first + 1)[k],
    }


def flat_slope_events(ts: np.ndarray, x: np.ndarray) -> dict[str, np.ndarray]:
    """Runs of |slope| <= SLOPE_ABS lasting >= FLAT_MIN_HOURS
    (``detectors.detect_flat_slopes``)."""
    slope = rolling_slope(ts, x, SLOPE_WINDOW_POINTS)
    first, last = _runs(np.abs(slope) <= SLOPE_ABS)
    end, hours = _run_ends(ts, first, last)
    k = hours >= FLAT_MIN_HOURS
    return {
        "start": ts[first[k]], "end": ts[end[k]], "hours": hours[k],
        "n_points": (last - first + 1)[k],
    }


EVENT_DETECTORS = {
    "flat_values": flat_value_events,
    "binary_switch": binary_switch_events,
    "flat_slopes": flat_slope_events,
}


# ------------------------------------------------------------------ report
# A7's expected-point cadence, and the event kinds whose starts each
# season counts (reference seasonal_stats, :277-290)
SEASON_STEP_SECONDS = 900.0
# A3's step when a series has under 3 rows or no positive ts diff
DEFAULT_STEP_SECONDS = 900.0
SEASON_EVENT_COUNTS = {"flat_values": "flat_values_events", "flat_slopes": "flat_slopes_events"}
# the series columns every QC figure draws from, bucketed together
FIGURE_VALUES = ("raw", "clean", "accepted", "smooth", "residual", "adiff")


def _round_half_up(x: np.ndarray, places: int) -> np.ndarray:
    """Spark's ``round`` of doubles: HALF_UP on the shortest decimal
    form of each value (``BigDecimal.valueOf``)."""
    q = Decimal(1).scaleb(-places)
    return np.array(
        [float(Decimal(repr(float(v))).quantize(q, ROUND_HALF_UP)) for v in x], dtype=float
    )


def seasonal_summary(
    ts: np.ndarray,
    x: np.ndarray,
    season: np.ndarray,
    events: dict[str, dict[str, np.ndarray]],
    step_seconds: float = SEASON_STEP_SECONDS,
) -> dict[str, np.ndarray]:
    """Per-season coverage summary of one series sorted by ``ts``
    (``stats.seasonal_stats``' arithmetic): season, n_rows,
    coverage_pct (100·non-null / the integer expected points
    max(1, round(span/step + 1))), nan_pct, both rounded HALF_UP to 4
    places, and per :data:`SEASON_EVENT_COUNTS` kind the number of
    ``events`` starting in the season."""
    names, idx = np.unique(season, return_inverse=True)
    k = len(names)
    n_rows = np.bincount(idx, minlength=k)
    n_obs = np.bincount(idx[~np.isnan(x)], minlength=k)
    lo = np.full(k, np.iinfo(np.int64).max)
    hi = np.full(k, np.iinfo(np.int64).min)
    np.minimum.at(lo, idx, ts)
    np.maximum.at(hi, idx, ts)
    span = (hi - lo) / (step_seconds * _US_PER_S) + 1.0
    expected = np.maximum(1, _round_half_up(span, 0).astype(np.int64))
    out = {
        "season": names.astype(object),
        "n_rows": n_rows.astype(np.int64),
        "coverage_pct": _round_half_up(n_obs / expected * 100.0, 4),
        "nan_pct": _round_half_up((n_rows - n_obs) / n_rows * 100.0, 4),
    }
    for kind, name in SEASON_EVENT_COUNTS.items():
        starts = idx[np.searchsorted(ts, events[kind]["start"])]
        out[name] = np.bincount(starts, minlength=k).astype(np.int64)
    return out


def gaussian_smooth(x: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(filled, smooth, residual) of one series, ``windows.gaussian_smooth``
    over numpy: ``x`` forward-filled then back-filled, the GAUSS_WEIGHTS
    taps over it added in tap order and renormalized over the taps that
    exist (NaN when none does), and filled − smooth."""
    n = len(x)
    ok = ~np.isnan(x)
    prev = np.maximum.accumulate(np.where(ok, np.arange(n), -1))
    nxt = np.minimum.accumulate(np.where(ok, np.arange(n), n)[::-1])[::-1]
    filled = np.where(prev >= 0, x[np.maximum(prev, 0)], np.nan)
    filled = np.where(np.isnan(filled) & (nxt < n), x[np.minimum(nxt, n - 1)], filled)
    num, den = np.zeros(n), np.zeros(n)
    for k, wt in zip(range(-GAUSS_TAPS, GAUSS_TAPS + 1), GAUSS_WEIGHTS):
        tap = _shift(filled, k)
        have = ~np.isnan(tap)
        num = num + np.where(have, tap, 0.0) * wt
        den = den + np.where(have, wt, 0.0)
    smooth = np.divide(num, den, out=np.full(n, np.nan), where=den > 0)
    return filled, smooth, filled - smooth


def time_buckets(
    ts: np.ndarray, values: dict[str, np.ndarray], max_points: int
) -> dict[str, np.ndarray]:
    """``figures.bucketed_series`` of one series sorted by ``ts``: the
    span [lo, hi] cut into buckets of ``(max(hi, lo + 1) − lo) div
    max_points + 1`` µs; per non-empty bucket its ``ts_us`` (start),
    each value's mean over the non-NaN rows (summed in row order from
    0.0; NaN when there is none) and its count ``n_<name>``."""
    lo, hi = ts[0], ts[-1]
    step = (max(hi, lo + 1) - lo) // max_points + 1
    b = ((ts - lo) / step).astype(np.int64)
    keys, idx = np.unique(b, return_inverse=True)
    out = {"ts_us": keys * step + lo}
    counts = {}
    for name, v in values.items():
        ok = ~np.isnan(v)
        n = np.bincount(idx, weights=ok, minlength=len(keys))
        total = np.bincount(idx, weights=np.where(ok, v, 0.0), minlength=len(keys))
        out[name] = np.divide(total, n, out=np.full(len(keys), np.nan), where=n > 0)
        counts[f"n_{name}"] = n.astype(np.int64)
    return {**out, **counts}


def decimal_histogram(x: np.ndarray, nbins: int = 10) -> np.ndarray:
    """Counts of the non-NaN values' fractional parts in ``nbins`` bins
    (``stats.decimal_histogram``): the fraction is Spark's
    ``pmod(v − floor(v), 1.0)``, with floor a saturated long, and bin i
    holds ``edges[i] <= f < edges[i + 1]`` over ``np.linspace`` edges,
    whose 1-ulp artefacts put an exact 0.6 in bin 5; the last bin takes
    the rest."""
    v = x[~np.isnan(x)]
    r = np.fmod(v - np.clip(np.floor(v), -(2.0**63), 2.0**63), 1.0)
    frac = np.where(r < 0, np.fmod(r + 1.0, 1.0), r)
    edges = np.linspace(0.0, 1.0, nbins + 1)
    return np.bincount(np.searchsorted(edges[1:nbins], frac, side="right"), minlength=nbins)


def newest_spans(events: pa.Table, k: int) -> dict[str, pa.Array]:
    """The ``k`` newest of one series' events as type, s, e (start and
    end in µs), ordered by start, then end, descending (NULLs last),
    then type."""
    spans = pa.table(
        {
            "type": events.column("type"),
            "s": pc.cast(events.column("start"), pa.int64()),
            "e": pc.cast(events.column("end"), pa.int64()),
        }
    )
    order = pc.sort_indices(
        spans, [("s", "descending"), ("e", "descending"), ("type", "ascending")],
        null_placement="at_end",
    )
    top = spans.take(order[:k])
    return {c: top.column(c).combine_chunks() for c in top.column_names}


# ------------------------------------------------------------------ Arrow
def _sorted_series(table: pa.Table, value: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(order, ts µs, values) of one group, sorted by ts; NULL and NaN
    values both become NaN."""
    # NULL ts sorts first, as in an ascending Spark window
    ts = pc.fill_null(pc.cast(table.column("ts"), pa.int64()), np.iinfo(np.int64).min)
    ts = ts.to_numpy()
    x = table.column(value).to_numpy().astype(float, copy=False)
    order = np.argsort(ts, kind="stable")
    return order, ts[order], x[order]


def _f64(x: np.ndarray) -> pa.Array:
    return pa.array(x, type=pa.float64(), mask=np.isnan(x))


def sentemqc_table(table: pa.Table, passes: Sequence[BandPassCfg]) -> pa.Table:
    """One EP3 series: its Arrow rows sorted by ts, followed by
    ``flag_run{i}`` (100 OK / 200 flagged) for each pass and the last
    pass's ``qcband_top``/``qcband_bottom``, all from the ``obs``
    column (the pre-masked observation, in N units for nitrate)."""
    with np.errstate(invalid="ignore", divide="ignore"):
        order, _, x = _sorted_series(table, "obs")
        flags, top, bottom = sentemqc_series(x, passes)
    out = table.take(pa.array(order))
    for i, f in enumerate(flags, start=1):
        out = out.append_column(f"flag_run{i}", pa.array(np.where(f, 200, 100).astype(np.int32)))
    return out.append_column("qcband_top", _f64(top)).append_column("qcband_bottom", _f64(bottom))


def _event_columns(found: dict[str, dict[str, np.ndarray]]) -> dict[str, np.ndarray]:
    """The detectors' events as columns (the J4 union): type, start,
    end, hours, value, n_points, pre, post, pre_val, post_val; each
    detector fills its own columns and leaves the others NULL (NaN,
    or a masked µs column for the timestamps)."""
    sizes = [len(ev["start"]) for ev in found.values()]

    def column(name, fill, dtype):
        parts = [ev.get(name, np.full(k, fill, dtype)) for ev, k in zip(found.values(), sizes)]
        return np.concatenate(parts).astype(dtype)

    def ts_column(name):
        present = np.concatenate([np.full(k, name in ev) for ev, k in zip(found.values(), sizes)])
        return pa.array(column(name, 0, np.int64), mask=~present)

    return {
        "type": np.repeat(list(found), sizes).astype(object),
        "start": ts_column("start"),
        "end": ts_column("end"),
        "hours": column("hours", np.nan, float),
        "value": column("value", np.nan, float),
        "n_points": column("n_points", 0, np.int64),
        "pre": ts_column("pre"),
        "post": ts_column("post"),
        "pre_val": column("pre_val", np.nan, float),
        "post_val": column("post_val", np.nan, float),
    }


def _arrow(v) -> pa.Array | pa.ChunkedArray:
    """An Arrow column of ``v``; a float array's NaN becomes NULL."""
    if isinstance(v, (pa.Array, pa.ChunkedArray)):
        return v
    return _f64(v) if v.dtype == float else pa.array(v)


def _one_row(values: dict, schema: pa.Schema) -> pa.Table:
    """One row of ``schema`` from ``values``: a list field's cell holds
    all of its given rows (a dict of columns for a list of structs), any
    other field its one given value."""
    cols = []
    for f in schema:
        v = values[f.name]
        if pa.types.is_list(f.type):
            item = f.type.value_type
            if pa.types.is_struct(item):
                v = pa.StructArray.from_arrays(
                    [_arrow(v[g.name]).cast(g.type) for g in item], fields=list(item)
                )
            else:
                v = _arrow(v).cast(item)
            v = pa.ListArray.from_arrays(pa.array([0, len(v)], pa.int32()), v, type=f.type)
        cols.append(_arrow(v).cast(f.type))
    return pa.Table.from_arrays(cols, schema=schema)


def _keys_of(table: pa.Table) -> dict[str, pa.ChunkedArray]:
    """The group's (station, variable), from its first row."""
    first = pa.array([0], pa.int64())
    return {k: table.column(k).take(first) for k in ("station", "variable")}


def series_meta(ts: np.ndarray, value: np.ndarray, null_ts: int) -> dict[str, np.ndarray]:
    """One series' meta (A3 and the reference's meta dict
    ``{station, col, step, sentinel_used, duplicates}``, :738) from its
    non-NULL timestamps ``ts`` (µs, sorted), every row's ``value``
    (NULL-ts rows included) and the count of NULL-ts rows:
    ``step_seconds``, the median of the positive ts diffs, or
    DEFAULT_STEP_SECONDS under 3 rows or without one; ``duplicates``,
    the zero diffs plus all NULL-ts rows but one; ``sentinel_used``,
    the active sentinels as compact JSON."""
    dt = np.diff(ts) / _US_PER_S
    pos = dt[dt > 0]
    step = _median(pos) if len(value) >= 3 and len(pos) else DEFAULT_STEP_SECONDS
    return {
        "step_seconds": np.array([step]),
        "duplicates": np.array([np.count_nonzero(dt == 0) + max(null_ts - 1, 0)], np.int64),
        "sentinel_used": np.array(
            [json.dumps(_active_sentinels(value), separators=(",", ":"))], dtype=object
        ),
    }


def series_table(
    table: pa.Table,
    schema: pa.Schema,
    *,
    max_gap_seconds: float,
    z_thresh: float,
    value_range: tuple[float, float] | None,
    full_suite: bool,
    sentem: bool,
) -> pa.Table:
    """One series' row of ``schema`` from its (station, variable, ts,
    value, season) Arrow rows, NULL-ts rows included: station,
    variable, and

    - ``rows``, the QC long table over the rows with a ts: ts, clean,
      dup_count, raw, gap_seconds, is_gap, f_z, saqc_flag, accepted
      and, with ``sentem``, sm_masked, sm_flagged, sm_flagreason;
    - ``events``, the detectors' events over clean (:func:`_event_columns`);
    - ``seasons``, one :func:`seasonal_summary` row per season;
    - step_seconds, duplicates and sentinel_used over every row
      (:func:`series_meta`).

    A series whose every ts is NULL gets its meta and empty lists."""
    with np.errstate(invalid="ignore", divide="ignore"):
        timed = table.filter(pc.is_valid(table.column("ts")))
        order, ts, x = _sorted_series(timed, "value")
        c = clean_series(ts, x, max_gap_seconds)
        f_z, flagged = flag_series(c["ts"], c["clean"], z_thresh, value_range, full_suite)
        rows = {
            "ts": c["ts"],
            "clean": c["clean"],
            "dup_count": c["dup_count"],
            "raw": c["raw"],
            "gap_seconds": c["gap_seconds"],
            "is_gap": c["is_gap"],
            "f_z": f_z,
            "saqc_flag": np.where(flagged, 255, 0).astype(np.int32),
            "accepted": np.where(flagged, np.nan, c["clean"]),
        }
        if sentem:
            sm_flagged, reason = _flag_reasons(sentemqc_series(c["clean"])[0])
            rows["sm_masked"] = np.where(sm_flagged, np.nan, _premask(c["clean"]))
            rows["sm_flagged"] = sm_flagged
            rows["sm_flagreason"] = pa.array(reason, type=pa.string())
        found = {name: fn(c["ts"], c["clean"]) for name, fn in EVENT_DETECTORS.items()}
        season = timed.column("season").to_numpy(zero_copy_only=False)[order[c["row"]]]
        seasons = seasonal_summary(c["ts"], c["clean"], season, found)
        meta = series_meta(ts, table.column("value").to_numpy(), table.num_rows - timed.num_rows)
    return _one_row(
        {**_keys_of(table), "rows": rows, "events": _event_columns(found), "seasons": seasons, **meta},
        schema,
    )


def figure_table(
    series: pa.Table, events: pa.Table, schema: pa.Schema, *, max_points: int, max_spans: int
) -> pa.Table:
    """One series' figure-input row of ``schema`` from its (station,
    variable, ts, raw, clean, accepted) Arrow rows and its (type,
    start, end) events: station, variable, ``buckets``
    (:func:`time_buckets` of :data:`FIGURE_VALUES`), ``hist``
    (:func:`decimal_histogram` of clean) and ``spans``
    (:func:`newest_spans`)."""
    with np.errstate(invalid="ignore", divide="ignore"):
        order, ts, clean = _sorted_series(series, "clean")
        cols = {
            c: series.column(c).to_numpy().astype(float, copy=False)[order]
            for c in ("raw", "accepted")
        }
        cols["clean"] = clean
        _, cols["smooth"], cols["residual"] = gaussian_smooth(clean)
        cols["adiff"] = np.abs(clean - _shift(clean, -1))
        buckets = time_buckets(ts, cols, max_points)
        hist = decimal_histogram(clean)
    spans = newest_spans(events, max_spans)
    return _one_row({**_keys_of(series), "buckets": buckets, "hist": hist, "spans": spans}, schema)
