"""Window primitives (SURVEY.md §2.4 W1-W3): ordered per-series
windows, pandas-exact centered rows frames, min_periods guards, lag
diffs, and gaps-and-islands ids; plus the NULL-safe join on series
keys.

Scale notes:
- All windows share the same (partitionBy, orderBy) so Catalyst
  collapses them into a single WindowExec (one sort, one pass).
- One (station, variable) series = one partition. At 100 TB a single
  series can exceed an executor; ``bucketed`` variants (time-bucket
  salting with halo rows for centered frames) are the scale path —
  see operators/scale.py.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec, functions as F

SERIES_KEYS = ("station", "variable")

# Gaussian smoother kernel: sigma = 2 points, +-4 taps (the reference
# plot_gaussian_compare truncates at 4 sigma; +-4 is ~2 sigma)
GAUSS_SIGMA = 2.0
GAUSS_TAPS = 4
GAUSS_WEIGHTS = [
    math.exp(-(k * k) / (2.0 * GAUSS_SIGMA * GAUSS_SIGMA))
    for k in range(-GAUSS_TAPS, GAUSS_TAPS + 1)
]


def join_on_keys(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str] = SERIES_KEYS,
    how: str = "inner",
    broadcast: bool = False,
) -> DataFrame:
    """``left.join(right, on=keys, how=how)`` with NULL keys equal
    (``<=>``): a NULL station is a series like any other (the CSV
    reader gives an empty station cell NULL), and a USING equi-join
    would drop it. Same columns as the USING join: ``keys``, then
    left's other columns, then right's. ``broadcast`` hints the right
    side."""
    keys = list(keys)
    renamed = {k: f"_right_{k}" for k in keys}
    r = right.select(*[F.col(c).alias(renamed.get(c, c)) for c in right.columns])
    if broadcast:
        r = F.broadcast(r)
    cond = [F.col(k).eqNullSafe(F.col(renamed[k])) for k in keys]
    rest = [c for c in left.columns if c not in keys]
    rest += [c for c in right.columns if c not in keys]
    return left.join(r, cond, how).select(*keys, *rest)


def ordered(keys: Sequence[str] = SERIES_KEYS, ts: str = "ts") -> WindowSpec:
    """The canonical per-series ordered window."""
    return Window.partitionBy(*keys).orderBy(ts)


def cumulative(keys: Sequence[str] = SERIES_KEYS, ts: str = "ts") -> WindowSpec:
    return ordered(keys, ts).rowsBetween(Window.unboundedPreceding, Window.currentRow)


def centered_bounds(w: int) -> tuple[int, int]:
    """pandas ``rolling(w, center=True)`` frame bounds.

    Odd w: symmetric [-w//2, w//2]. Even w is LEFT-HEAVY: row i covers
    [i - w/2, i + w/2 - 1] (verified against pandas 2.x; reference
    relies on this for the even SentemQC windows w in {960, 48, 12} —
    scripts/sentemqc.py:25-30).
    """
    lo = -(w // 2)
    hi = (w // 2) - 1 if w % 2 == 0 else (w // 2)
    return lo, hi


def centered(w: int, keys: Sequence[str] = SERIES_KEYS, ts: str = "ts") -> WindowSpec:
    lo, hi = centered_bounds(w)
    return ordered(keys, ts).rowsBetween(lo, hi)


def guard_min_periods(expr: Column, value: str | Column, frame: WindowSpec, minp: int) -> Column:
    """NULL the windowed ``expr`` where fewer than ``minp`` non-null
    values fall in the frame — pandas ``min_periods`` semantics
    (count() over a window counts non-nulls, exactly like pandas
    counts non-NaN)."""
    v = F.col(value) if isinstance(value, str) else value
    return F.when(F.count(v).over(frame) >= minp, expr)


def with_diff(
    df: DataFrame,
    value: str = "value",
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    out: str = "diff",
) -> DataFrame:
    """First difference of ``value`` within each series (W1).

    Reference: successive diffs used for jumps/quantization
    (scripts/ufz_water_qc_pipeline.py:129-142, 424-428).
    """
    w = ordered(keys, ts)
    return df.withColumn(out, F.col(value) - F.lag(value).over(w))


def with_ts_delta(
    df: DataFrame,
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    out: str = "delta_s",
) -> DataFrame:
    """Seconds since the previous row in the series (NULL at series start)."""
    w = ordered(keys, ts)
    dt = (F.unix_micros(F.col(ts)) - F.unix_micros(F.lag(ts).over(w))) / F.lit(1e6)
    return df.withColumn(out, dt)


def with_islands(
    df: DataFrame,
    flag: str | Column,
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    out: str = "island_id",
) -> DataFrame:
    """Gaps-and-islands run id (W3): monotone id that increments when
    the boolean ``flag`` changes. Replaces the reference's rle_bool
    (scripts/ufz_water_qc_pipeline.py:94-103) with a cumulative sum —
    the standard distributed RLE.
    """
    f = F.col(flag) if isinstance(flag, str) else flag
    w = ordered(keys, ts)
    prev = F.lag(f).over(w)
    change = F.when(prev.isNull() | (f.cast("int") != prev.cast("int")), 1).otherwise(0)
    return df.withColumn(out, F.sum(change).over(cumulative(keys, ts)))


def rolling_ols_slope(
    value: str,
    w: int,
    minp: int,
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    t_origin_s: float = 1.7e9,
) -> Column:
    """Centered rolling OLS slope of value vs time-in-seconds (W6).

    Closed form over the frame — (n·Σty − Σt·Σy) / (n·Σtt − (Σt)²) —
    replaces the reference's per-row Python lstsq loop
    (rolling_lin_slope, scripts/ufz_water_qc_pipeline.py:105-123) with
    pure codegen'd window aggregates. Only rows with finite y count
    (reference masks non-finite pairs), which falls out of SQL null
    semantics: t*y is NULL when y is NULL, and we sum t conditionally.

    ``t_origin_s`` is subtracted from epoch seconds before the sums:
    with raw epoch values (~1.7e9) the n·Σtt − (Σt)² cancellation
    loses ~10 digits in doubles; a nearby origin keeps t small so the
    closed form stays numerically exact. The slope itself is invariant
    to the shift.
    """
    frame = centered(w, keys, ts)
    y = F.col(value)
    t = F.unix_micros(F.col(ts)) / F.lit(1e6) - F.lit(t_origin_s)
    t_obs = F.when(y.isNotNull(), t)  # t where y present
    n = F.count(y).over(frame).cast("double")
    st = F.sum(t_obs).over(frame)
    sy = F.sum(y).over(frame)
    sty = F.sum(t_obs * y).over(frame)
    stt = F.sum(t_obs * t_obs).over(frame)
    denom = n * stt - st * st
    slope = F.when((n >= F.lit(max(minp, 2))) & (denom != 0), (n * sty - st * sy) / denom)
    return slope


def gaussian_smooth(
    df: DataFrame,
    value: str,
    keys: Sequence[str] = SERIES_KEYS,
) -> DataFrame:
    """Gaps filled, then Gaussian-smoothed along ``ts`` (reference
    plot_gaussian_compare, scripts/ufz_water_qc_pipeline.py:371-389):
    adds ``filled`` (``value`` forward-filled, then back-filled),
    ``smooth`` (the GAUSS_WEIGHTS taps over ``filled``, renormalized
    over the taps that exist, NULL when none does) and ``residual``
    (filled - smooth). An explicit lag/lead tap tree, so the sum order
    is fixed and the result bit-deterministic.

    The back-fill is a REVERSED forward-fill: Spark evaluates an
    ignore-nulls first() over an unbounded-FOLLOWING frame by
    rescanning per row (O(n²) per partition — 46 s at sf0.1); the
    descending-order running last() is one O(n) pass (one extra
    sort)."""
    w = ordered(keys)
    ff = F.last(value, ignorenulls=True).over(cumulative(keys))
    wdesc = Window.partitionBy(*keys).orderBy(F.desc("ts")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    bf = F.last(value, ignorenulls=True).over(wdesc)
    df = df.withColumn("filled", F.coalesce(ff, bf))
    num, den = F.lit(0.0), F.lit(0.0)
    for k in range(-GAUSS_TAPS, GAUSS_TAPS + 1):
        wt = GAUSS_WEIGHTS[k + GAUSS_TAPS]
        tap = (
            F.col("filled")
            if k == 0
            else (F.lag("filled", -k).over(w) if k < 0 else F.lead("filled", k).over(w))
        )
        num = num + F.coalesce(tap, F.lit(0.0)) * F.lit(wt)
        den = den + F.when(tap.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
    return df.withColumn("smooth", F.when(den > 0, num / den)).withColumn(
        "residual", F.col("filled") - F.col("smooth")
    )
