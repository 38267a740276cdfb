"""Cleaning operators (SURVEY.md §2 A1-A3, S3, W2): sentinel masking,
duplicate-timestamp resolution, sampling-step inference, gap
classification.

All operate on the long readings table and stay fully lazy. The
two-pass per-series stats stay in one plan instead of collect()ing:
``mask_sentinels`` reads its sentinel counts from window aggregates
over the series partition, so the rows are not joined back to a
per-key aggregate. ``infer_step`` returns one row per series; its
aggregate :func:`step_seconds` and the active-sentinel aggregate
:func:`active_sentinel_array` fold into a caller's own per-series
aggregate.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from wq_data_pipeline_spark.operators.windows import SERIES_KEYS, ordered, with_ts_delta

DEFAULT_SENTINELS = (-9.0, -99.0, -999.0, -9999.0)


def _active_array(
    total: Callable[[Column], Column],
    sentinels: Sequence[float],
    value: str,
    min_count: int,
    min_frac: float,
) -> Column:
    """Sorted array of the ACTIVE sentinels: count >= min_count OR
    count/n >= min_frac (reference detect_and_mask_sentinels 'used'
    set, scripts/ufz_water_qc_pipeline.py:158-167). ``total`` turns a
    per-row 0/1 column into its per-series sum, as a grouped aggregate
    or as a window aggregate."""
    n = total(F.lit(1))
    active = []
    for s in sentinels:
        c = total(F.when(F.col(value) == F.lit(float(s)), 1).otherwise(0))
        active.append(F.when((c >= min_count) | (c / n >= min_frac), F.lit(float(s))))
    return F.array_sort(F.array_compact(F.array(*active)))


def active_sentinel_array(
    sentinels: Sequence[float] = DEFAULT_SENTINELS,
    value: str = "value",
    min_count: int = 5,
    min_frac: float = 0.001,
) -> Column:
    """Aggregate: the group's ACTIVE sentinels, sorted ascending (see
    :func:`_active_array`)."""
    return _active_array(F.sum, sentinels, value, min_count, min_frac)


def mask_sentinels(
    df: DataFrame,
    keys: Sequence[str] = SERIES_KEYS,
    value: str = "value",
    sentinels: Sequence[float] = DEFAULT_SENTINELS,
    min_count: int = 5,
    min_frac: float = 0.001,
) -> DataFrame:
    """Two-pass sentinel masking (A2).

    Pass 1 counts exact matches of each sentinel per series; a sentinel
    is *active* when count >= min_count OR count/n >= min_frac
    (reference: detect_and_mask_sentinels,
    scripts/ufz_water_qc_pipeline.py:158-167). Pass 2 masks active
    sentinel values to NULL. The counts are window aggregates over the
    series partition, so each row carries its series' active set and
    the input is read once; the plan shuffles by the series keys, the
    partitioning the rest of the QC chain needs anyway.
    """
    w = Window.partitionBy(*keys)
    active = _active_array(
        lambda c: F.sum(c).over(w), sentinels, value, min_count, min_frac
    )
    masked = F.when(F.array_contains(active, F.col(value)), None).otherwise(F.col(value))
    return df.withColumn(value, masked)


def resolve_duplicates(
    df: DataFrame,
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    value: str = "value",
    how: str = "median",
) -> DataFrame:
    """Duplicate-timestamp resolution by group median/mean (A1), or
    keep-first (the reference's ``ensure_time_index`` drop at
    scripts/ufz_water_qc_pipeline.py:74).

    Reference: resolve_duplicates, scripts/ufz_water_qc_pipeline.py:170-176
    (nanmedian over rows sharing a timestamp). Exact median — not
    approx — to stay oracle-exact. Emits ``dup_count`` per surviving row.

    ``how='first'`` keeps the first occurrence in scan order
    (min_by over a monotonic row id — deterministic for a given file
    layout, which is what pandas keep='first' means too).
    """
    if how == "first":
        d = df.withColumn("_rid", F.monotonically_increasing_id())
        return d.groupBy(*keys, ts).agg(
            F.min_by(value, "_rid").alias(value),
            F.count(F.lit(1)).alias("dup_count"),
        )
    agg = F.median(value) if how == "median" else F.avg(value)
    return df.groupBy(*keys, ts).agg(
        agg.alias(value), F.count(F.lit(1)).alias("dup_count")
    )


def step_seconds(dt: str, default_seconds: float = 900.0) -> Column:
    """Aggregate: a series' sampling step from its successive ts diffs
    ``dt`` (seconds) — the median of the positive ones, or
    ``default_seconds`` when the series has < 3 rows or none is
    positive (A3)."""
    med = F.median(F.when(F.col(dt) > 0, F.col(dt)))
    return F.when((F.count(F.lit(1)) >= 3) & med.isNotNull(), med).otherwise(
        F.lit(default_seconds)
    )


def infer_step(
    df: DataFrame,
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    default_seconds: float = 900.0,
) -> DataFrame:
    """Per-series sampling step = median of positive successive ts
    diffs, defaulting to 15 min when the series has < 3 points (A3).

    Reference: infer_step, scripts/ufz_water_qc_pipeline.py:77-82.
    Returns one row per series: (keys..., step_seconds).
    """
    keys = list(keys)
    d = with_ts_delta(df.select(*keys, ts), keys, ts, out="_dt")
    return d.groupBy(*keys).agg(step_seconds("_dt", default_seconds).alias("step_seconds"))


def classify_gaps(
    df: DataFrame,
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    max_gap_seconds: float = 7200.0,
    gap_flag: str = "is_gap",
    gap_seconds: str = "gap_seconds",
) -> DataFrame:
    """Flag rows whose preceding time gap exceeds the threshold (W2).

    Reference: classify_gaps, scripts/ufz_water_qc_pipeline.py:179-189.
    Only the first row AFTER a gap is flagged (not an interval); series
    starts (no predecessor) are not gaps.
    """
    d = with_ts_delta(df, keys, ts, out=gap_seconds)
    return d.withColumn(
        gap_flag, F.coalesce(F.col(gap_seconds) > max_gap_seconds, F.lit(False))
    )


def null_gap_values(
    df: DataFrame,
    value: str = "value",
    gap_flag: str = "is_gap",
    out: str | None = None,
) -> DataFrame:
    """NULL the value at gap rows (reference x[gaps]=nan,
    scripts/ufz_water_qc_pipeline.py:673-675)."""
    out = out or value
    return df.withColumn(out, F.when(F.col(gap_flag), None).otherwise(F.col(value)))
