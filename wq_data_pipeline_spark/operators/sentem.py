"""SentemQC Column helpers of the catalog (plans/qc.py: ``w13_tri5``
and ``sentem_flags``): the triangular 5-point mean/std (W13) and the
reference's sensor-error, combined-flag and reason rules (P11-P13,
scripts/sentemqc.py:40-60). The EP3 runner (plans/sentem_pipeline.py)
uses the same three flag rules.

The 5-pass moving-band QC itself (W12, W14, P4-P6) is the per-series
numpy kernel ``operators/series_qc.sentemqc_series``, which both the QC
pipeline and the EP3 runner run.

Design notes:
- The triangular 5-point mean is an explicit lag/lead tap
  expression, NOT a window aggregate: a fixed expression tree is
  evaluated identically by any engine (deterministic fp), and it
  codegens without a sort-based frame scan.
- Flags use the reference's 100=OK / 200=flagged codes
  (scripts/sentemqc.py:41-54).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from wq_data_pipeline_spark.operators.windows import SERIES_KEYS, ordered

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
