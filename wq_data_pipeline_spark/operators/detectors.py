"""Artefact/outlier detectors (SURVEY.md §2.4 W4-W11, §2.2 P7/P14).

Each detector is a lazy transformation producing either per-row flag
columns or small event tables (gaps-and-islands aggregation). No UDFs:
everything is Column algebra + window aggregates, so the whole suite
codegens and collapses onto one sort per series.

Callers are the catalog (plans/qc.py and the other families, whose
DuckDB oracles mirror this JVM arithmetic) and the EP3 runner. The QC
pipeline (plans/qc_pipeline.py) runs the same detectors as numpy in
its per-series kernel, operators/series_qc.py; tests/test_series_qc.py
holds the two engines equal and tests/test_reference_semantics.py ties
both to the pandas references.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from wq_data_pipeline_spark.operators.windows import (
    SERIES_KEYS,
    centered,
    guard_min_periods,
    ordered,
    rolling_ols_slope,
    with_islands,
)


def flag_range(value: str | Column, lo: float, hi: float) -> Column:
    """Out-of-physical-range flag (P7). NULL values -> False
    (reference .fillna(False), scripts/ufz_water_qc_pipeline.py:475-477)."""
    v = F.col(value) if isinstance(value, str) else value
    return F.coalesce((v < lo) | (v > hi), F.lit(False))


def flag_missing(value: str | Column) -> Column:
    v = F.col(value) if isinstance(value, str) else value
    return v.isNull()


def flag_jumps(
    value: str = "value",
    thresh: float = 5.0,
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
) -> Column:
    """|first difference| >= thresh (reference _fallback_flag_jumps,
    scripts/ufz_water_qc_pipeline.py:424-428)."""
    w = ordered(keys, ts)
    d = F.col(value) - F.lag(value).over(w)
    return F.coalesce(F.abs(d) >= thresh, F.lit(False))


def flag_variance(
    value: str = "value",
    window_points: int = 25,
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    tol: float = 1e-12,
) -> Column:
    """Centered rolling sample variance <= tol (W7).

    Reference _fallback_flag_by_variance,
    scripts/ufz_water_qc_pipeline.py:409-413 — pandas .var() is ddof=1
    = var_samp. min_periods = max(3, w//3).
    """
    frame = centered(window_points, keys, ts)
    minp = max(3, window_points // 3)
    v = guard_min_periods(F.var_samp(value).over(frame), value, frame, minp)
    return F.coalesce(v <= tol, F.lit(False))


def with_rolling_median(
    df: DataFrame,
    value: str = "value",
    window_points: int = 96,
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    minp: int | None = None,
    out: str = "roll_med",
) -> DataFrame:
    """Exact centered rolling median via percentile-as-window-agg."""
    frame = centered(window_points, keys, ts)
    if minp is None:
        minp = max(5, window_points // 3)
    med = guard_min_periods(
        F.percentile(F.col(value), F.lit(0.5)).over(frame), value, frame, minp
    )
    return df.withColumn(out, med)


def with_robust_z(
    df: DataFrame,
    value: str = "value",
    window_points: int = 96,
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    out: str = "robust_z",
    engine: str = "window",
) -> DataFrame:
    """Rolling robust z-score (W8): z = 0.6745·(x − med) / MAD with
    centered window; MAD == 0 -> NULL.

    Reference _fallback_flag_zscore, scripts/ufz_water_qc_pipeline.py:415-422.
    Two window passes: materialize the rolling median, then the rolling
    median of |x − med| (the med varies per row, so the second pass
    windows over a derived column — same sort key, so Catalyst reuses
    the sort).

    ``engine='pandas'`` runs the same math per series inside
    applyInPandas: pandas' rolling median is a C skiplist (O(n·log w))
    vs WindowExec's per-row frame re-sort (O(n·w·log w)) — measured
    60.4 s -> 1.6 s on a 1M-row series at w=96. Same exact medians
    (both interpolate the middle pair), so results agree to float
    identity; the window engine stays the default for oracle-gated
    plans (pure JVM, no Arrow boundary).
    """
    if engine == "pandas":
        return _robust_z_pandas(df, value, window_points, keys, ts, out)
    minp = max(5, window_points // 3)
    frame = centered(window_points, keys, ts)
    d = with_rolling_median(df, value, window_points, keys, ts, minp, out="_med")
    dev = F.abs(F.col(value) - F.col("_med"))
    d = d.withColumn("_absdev", dev)
    mad = guard_min_periods(
        F.percentile(F.col("_absdev"), F.lit(0.5)).over(frame), "_absdev", frame, minp
    )
    d = d.withColumn("_mad", mad)
    z = F.when(
        F.col("_mad") > 0,
        F.lit(0.6745) * (F.col(value) - F.col("_med")) / F.col("_mad"),
    )
    return d.withColumn(out, z).drop("_med", "_absdev", "_mad")


def _robust_z_pandas(
    df: DataFrame,
    value: str,
    window_points: int,
    keys: Sequence[str],
    ts: str,
    out: str,
) -> DataFrame:
    """applyInPandas engine for :func:`with_robust_z`: the per-series
    ``series_qc.robust_z`` (pandas C skiplist rolling median) on each
    series' Arrow batch."""
    from pyspark.sql import types as T

    from wq_data_pipeline_spark.operators.series_qc import robust_z

    schema = T.StructType(list(df.schema.fields) + [T.StructField(out, T.DoubleType())])

    def fz(pdf):
        pdf = pdf.sort_values(ts).reset_index(drop=True)
        pdf[out] = robust_z(pdf[value].to_numpy(dtype=float), window_points)
        return pdf

    return df.groupBy(*list(keys)).applyInPandas(fz, schema)


def flag_robust_z(
    df: DataFrame,
    value: str = "value",
    window_points: int = 96,
    thresh: float = 4.0,
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    out: str = "flag_zscore",
    engine: str = "window",
) -> DataFrame:
    d = with_robust_z(df, value, window_points, keys, ts, out="_z", engine=engine)
    return d.withColumn(
        out, F.coalesce(F.abs(F.col("_z")) >= thresh, F.lit(False))
    ).drop("_z")


def _run_events(
    df: DataFrame,
    run_flag: Column,
    keys: Sequence[str],
    ts: str,
    value: str,
) -> DataFrame:
    """Common gaps-and-islands machinery: island id over ``run_flag``
    plus neighbor timestamps/values at the run boundaries."""
    w = ordered(keys, ts)
    d = df.withColumn("_in_run", run_flag)
    d = with_islands(d, "_in_run", keys, ts, out="_island")
    return d.withColumns(
        {
            "_prev_ts": F.lag(ts).over(w),
            "_next_ts": F.lead(ts).over(w),
            "_prev_val": F.lag(value).over(w),
            "_next_val": F.lead(value).over(w),
        }
    )


def _run_span(keys: Sequence[str], event_type: str, *extra: str) -> list[Column]:
    """Output columns of a run-event aggregate: ``end`` is the first
    row after the run (falling back to the run's last row at series
    end) and ``hours`` the run's duration."""
    end = _run_end(F.col("_after_ts"), F.col("_last_ts"))
    return [
        *keys,
        F.lit(event_type).alias("type"),
        F.col("start"),
        end.alias("end"),
        _hours(F.col("start"), end).alias("hours"),
        *[F.col(c) for c in extra],
    ]


def _run_end(after_ts: Column, last_ts: Column) -> Column:
    """A run ends at the first row after it, or at its own last row
    when it reaches the end of the series (reference :217)."""
    return F.coalesce(after_ts, last_ts)


def _hours(start: Column, end: Column) -> Column:
    return (F.unix_micros(end) - F.unix_micros(start)) / F.lit(3.6e9)


def detect_flat_runs(
    df: DataFrame,
    value: str = "value",
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    atol: float = 0.0,
    min_hours: float = 2.0,
    event_type: str = "flat_values",
) -> DataFrame:
    """Flat-value run events (W5): maximal runs where each point equals
    its predecessor within ``atol``, lasting >= min_hours.

    Reference detect_flat_runs, scripts/ufz_water_qc_pipeline.py:208-221.
    Boundary conventions preserved: the first row of a series is never
    'equal' (lag is NULL), and the event ``end`` is the timestamp of
    the first row AFTER the run (``:217``) — here last-row-of-run's
    lead(ts), falling back to the last run row at series end. A run of
    equal-pairs of length k covers k+1 points; the reference counts the
    run from the first row where eq is True, so ``start`` is the
    second point of the constant block; duration end-start uses those.
    """
    d = _run_events(df, _flat_step(value, keys, ts, atol), keys, ts, value)
    runs = (
        d.filter(F.col("_in_run"))
        .groupBy(*keys, "_island")
        .agg(
            F.min(ts).alias("start"),
            F.max(ts).alias("_last_ts"),
            F.max("_next_ts").alias("_after_ts"),
            F.min_by(value, ts).alias("value"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .select(*_run_span(keys, event_type, "value", "n_points"))
        .filter(F.col("hours") >= min_hours)
    )
    return runs


def _flat_step(value: str, keys: Sequence[str], ts: str, atol: float) -> Column:
    """True where a row equals its predecessor within ``atol``: the
    rows of a flat run. A series' first row and NULL values are never
    in a run."""
    w = ordered(keys, ts)
    eq = F.coalesce(F.abs(F.col(value) - F.lag(value).over(w)) <= atol, F.lit(False))
    return eq & F.col(value).isNotNull()


def flat_run_mask(
    df: DataFrame,
    value: str = "value",
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    atol: float = 0.0,
    min_hours: float = 2.0,
    out: str = "flag_flat",
) -> DataFrame:
    """Per-row flat-run flag (reference _fallback_flag_plateau /
    _mask_from_runs, scripts/ufz_water_qc_pipeline.py:392-407): True
    for rows with ``start <= ts <= end`` of a :func:`detect_flat_runs`
    event, where ``end`` is the first row AFTER the run.

    Computed in the series' own window pass instead of joining the
    events back: ``q`` marks rows of a run lasting >= ``min_hours``
    (run bounds from a window over the run's island), and the flag is
    ``q OR lag(q)``, which adds the one row after each run.
    """
    w = ordered(keys, ts)
    d = _run_events(df, _flat_step(value, keys, ts, atol), keys, ts, value)
    run = Window.partitionBy(*keys, "_island")
    start = F.min(ts).over(run)
    end = _run_end(F.max("_next_ts").over(run), F.max(ts).over(run))
    d = d.withColumn("_q", F.col("_in_run") & (_hours(start, end) >= min_hours))
    return d.withColumn(out, F.col("_q") | F.coalesce(F.lag("_q").over(w), F.lit(False))).drop(
        "_in_run", "_island", "_prev_ts", "_next_ts", "_prev_val", "_next_val", "_q"
    )


def detect_binary_switches(
    df: DataFrame,
    value: str = "value",
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    tol: float = 1e-12,
    event_type: str = "binary_switch",
) -> DataFrame:
    """Zero-run (binary switch) events (W4): maximal runs of
    |value| <= tol with the neighboring values before/after; an event
    is emitted when BOTH neighbors are finite and either is nonzero.

    Reference detect_binary_switches,
    scripts/ufz_water_qc_pipeline.py:192-205 + events_from_binary
    :642-649. Boundary convention preserved: the reference clamps the
    neighbor index into the array (``pre=max(0,a-1)``), so a run at
    the series edge uses its OWN endpoint (finite, ~0) as that
    neighbor — edge runs are emitted when the other neighbor is
    nonzero; a NaN-valued true neighbor suppresses the event
    (``np.isfinite(preval) and np.isfinite(postval)``, ``:203``).
    """
    in_run = F.col(value).isNotNull() & (F.abs(F.col(value)) <= tol)
    d = _run_events(df, in_run, keys, ts, value)
    grouped = (
        d.filter(F.col("_in_run"))
        .groupBy(*keys, "_island")
        .agg(
            F.min(ts).alias("start"),
            F.max(ts).alias("end"),
            F.min_by("_prev_ts", ts).alias("_pre_ts"),
            F.max_by("_next_ts", ts).alias("_post_ts"),
            F.min_by("_prev_val", ts).alias("_pre_nbr"),
            F.max_by("_next_val", ts).alias("_post_nbr"),
            F.min_by(value, ts).alias("_first_val"),
            F.max_by(value, ts).alias("_last_val"),
            F.count(F.lit(1)).alias("n_points"),
        )
    )
    # clamp at series edges: missing neighbor row -> the run's own
    # endpoint (matches the reference's index clamp)
    pre_val = F.when(F.col("_pre_ts").isNull(), F.col("_first_val")).otherwise(
        F.col("_pre_nbr")
    )
    post_val = F.when(F.col("_post_ts").isNull(), F.col("_last_val")).otherwise(
        F.col("_post_nbr")
    )
    runs = (
        grouped.withColumn("pre", F.coalesce(F.col("_pre_ts"), F.col("start")))
        .withColumn("post", F.coalesce(F.col("_post_ts"), F.col("end")))
        .withColumn("pre_val", pre_val)
        .withColumn("post_val", post_val)
        .filter(
            F.col("pre_val").isNotNull()
            & F.col("post_val").isNotNull()
            & ((F.abs(F.col("pre_val")) > tol) | (F.abs(F.col("post_val")) > tol))
        )
        .select(
            *keys,
            F.lit(event_type).alias("type"),
            "start",
            "end",
            "pre",
            "post",
            "pre_val",
            "post_val",
            "n_points",
        )
    )
    return runs


def detect_flat_slopes(
    df: DataFrame,
    value: str = "value",
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    window_points: int = 25,
    abs_slope: float = 1e-10,
    min_hours: float = 2.0,
) -> DataFrame:
    """Flat-slope run events (W6): centered rolling OLS slope
    (closed-form window algebra, no Python loop), runs of
    |slope| <= abs_slope lasting >= min_hours.

    Reference detect_flat_slopes over rolling_lin_slope,
    scripts/ufz_water_qc_pipeline.py:105-123,223-236; the reference
    calls rolling_lin_slope with ``minp=max(5, win//3)`` (= 8 for the
    default 25-point window), so sparse regions get no slope.
    """
    slope = rolling_ols_slope(
        value, window_points, max(5, window_points // 3), keys, ts
    )
    d = df.withColumn("_slope", slope)
    flat = F.coalesce(F.abs(F.col("_slope")) <= abs_slope, F.lit(False))
    return _slope_runs(d, flat, keys, ts, min_hours)


def _slope_runs(d: DataFrame, flat: Column, keys, ts, min_hours: float) -> DataFrame:
    dd = _run_events(d, flat, keys, ts, "_slope")
    return (
        dd.filter(F.col("_in_run"))
        .groupBy(*keys, "_island")
        .agg(
            F.min(ts).alias("start"),
            F.max(ts).alias("_last_ts"),
            F.max("_next_ts").alias("_after_ts"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .select(*_run_span(keys, "flat_slopes", "n_points"))
        .filter(F.col("hours") >= min_hours)
    )


def detect_isolated_groups(
    df: DataFrame,
    value: str = "value",
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    max_group_points: int = 3,
    min_gap_seconds: float = 3 * 3600.0,
    out: str = "flag_isolated",
) -> DataFrame:
    """Isolated-group flag (W9): finite runs of <= max_group_points
    with a > min_gap_seconds MEASURED time gap on BOTH sides.

    Reference _fallback_flag_isolated,
    scripts/ufz_water_qc_pipeline.py:430-453. The reference requires
    ``a>0 and big_gap[a]`` / ``b+1<len and big_gap[b+1]`` — a run at
    the series start/end has no measurable gap on that side and is
    NEVER flagged; a NULL neighbor timestamp here therefore fails the
    gap test. Implementation: islands of non-nullness; island size,
    first/last ts and the neighbouring rows' timestamps across the
    island boundary are window aggregates over the island partition
    inside the series, so whole islands are flagged without joining
    back. Returns the input rows + boolean ``out``.
    """
    w = ordered(keys, ts)
    finite = F.col(value).isNotNull()
    d = with_islands(df, finite, keys, ts, out="_isl")
    d = d.withColumns({"_prev_ts": F.lag(ts).over(w), "_next_ts": F.lead(ts).over(w)})
    isl = Window.partitionBy(*keys, "_isl")
    first_ts, last_ts = F.min(ts).over(isl), F.max(ts).over(isl)
    before_ts = F.min_by("_prev_ts", ts).over(isl)
    after_ts = F.max_by("_next_ts", ts).over(isl)
    gap_before = before_ts.isNotNull() & (
        (F.unix_micros(first_ts) - F.unix_micros(before_ts)) / 1e6 > min_gap_seconds
    )
    gap_after = after_ts.isNotNull() & (
        (F.unix_micros(after_ts) - F.unix_micros(last_ts)) / 1e6 > min_gap_seconds
    )
    small = F.count(F.lit(1)).over(isl) <= max_group_points
    return d.withColumn(
        out, F.coalesce(finite & small & gap_before & gap_after, F.lit(False))
    ).drop("_isl", "_prev_ts", "_next_ts")


def merge_flags(*flags: Column) -> Column:
    """OR-combine flag masks, NULL-tolerant (P14; reference merge_flags,
    scripts/ufz_water_qc_pipeline.py:656-663)."""
    out = F.lit(False)
    for f in flags:
        out = out | F.coalesce(f, F.lit(False))
    return out


def flags_to_code(combined: Column, flagged_code: int = 255, ok_code: int = 0) -> Column:
    """0/255 flag codes (reference scripts/ufz_water_qc_pipeline.py:587)."""
    return F.when(combined, flagged_code).otherwise(ok_code)
