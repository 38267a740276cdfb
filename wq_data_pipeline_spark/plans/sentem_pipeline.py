"""EP3 — standalone SentemQC runner (reference
``run_sentemqc_on_dataframe``, scripts/sentemqc.py:145-173): per-code
5-pass band QC over the canonical long table, with calibration
offsets, nitrate N<->NO3 conversion, sensor-error flags, pass-5 band
export, and the reference's wide export naming (``{var}__flag_global``
.. ``{var}__masked``).

Where the reference loops variables in Python over pandas Series,
this plan sends each (station, variable) series to one Python worker,
once: one ``groupBy(station, variable).applyInArrow`` runs the
per-series band kernel (``operators/series_qc.sentemqc_table``) with
the passes of that variable's sensor code. The QC pipeline runs the
same kernel with ``DEFAULT_PASSES``. The row-local steps stay Column
expressions: the time bounds, the calibration offset, the pre-mask,
the nitrate factor and the sensor rules before the pass; the band
export in NO3 units and the combined flags after it.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F, types as T

from wq_data_pipeline_spark.operators import series_qc as Q
from wq_data_pipeline_spark.operators.sentem import (
    combine_flags_200,
    flag_reasons,
    sensor_error_flag,
)
from wq_data_pipeline_spark.operators.series_qc import BandPassCfg
from wq_data_pipeline_spark.plans.qc_pipeline import widen
from wq_data_pipeline_spark.session import ship_package

KEYS = ["station", "variable"]

# P5: NO3 -> N (scripts/sentemqc.py:85)
NITRATE_NO3_TO_N = 14.0 / 62.0


@dataclass(frozen=True)
class SentemVar:
    """One VARIABLE_MAP entry (scripts/sentemqc.py:77)."""

    variable: str
    code: int
    is_nitrate: bool = False
    calibration_offset: float = 0.0


# The reference's published per-code pass parameters
# (SENTEMQC_CONFIG, scripts/sentemqc.py:75) — plain data, replicated
# so EP3 runs out of the box with reference behavior.
SENTEMQC_CONFIG: dict[int, dict] = {
    157787: {"w1": 960, "sf1": 3.5, "ta1": 10.0, "bs1": 1.5, "w2": 960, "sf2": 3.5,
             "ta2": 10.0, "bs2": 1.5, "w3": 48, "sf3": 1.7, "ta3": 2.5, "bs3": 2.5,
             "w4": 5, "sf4": 1.3, "ta4": 0.5, "bs4": 0.3, "w5": 5, "sf5": 1.3,
             "ta5": 0.5, "bs5": 0.3, "uncertainty_pct": 0.05, "tri5": True},
    2477034: {"w1": 960, "sf1": 3.0, "ta1": 1.5, "bs1": 0.05, "w2": 960, "sf2": 2.6,
              "ta2": 1.2, "bs2": 0.05, "w3": 48, "sf3": 2.5, "ta3": 0.35, "bs3": 0.2,
              "w4": 5, "sf4": 0.3, "ta4": 0.05, "bs4": 0.025, "w5": 5, "sf5": 0.9,
              "ta5": 0.05, "bs5": 0.025, "uncertainty_pct": 0.03, "tri5": True},
    2477787: {"w1": 960, "sf1": 2.5, "ta1": 0.4, "bs1": 0.05, "w2": 960, "sf2": 1.5,
              "ta2": 0.3, "bs2": 0.05, "w3": 48, "sf3": 1.0, "ta3": 0.35, "bs3": 0.01,
              "w4": 5, "sf4": 0.2, "ta4": 0.03, "bs4": 0.01, "w5": 5, "sf5": 0.9,
              "ta5": 0.05, "bs5": 0.025, "uncertainty_pct": 0.03, "tri5": True},
    400: {"w1": 960, "sf1": 2.5, "ta1": 0.4, "bs1": 0.2, "w2": 960, "sf2": 2.5,
          "ta2": 0.4, "bs2": 0.2, "w3": 48, "sf3": 1.7, "ta3": 0.35, "bs3": 0.35,
          "w4": 5, "sf4": 1.3, "ta4": 0.05, "bs4": 0.05, "w5": 5, "sf5": 1.3,
          "ta5": 0.05, "bs5": 0.05, "uncertainty_pct": 0.02, "tri5": True},
    410: {"w1": 960, "sf1": 2.0, "ta1": 0.3, "bs1": 0.2, "w2": 960, "sf2": 2.0,
          "ta2": 0.3, "bs2": 0.2, "w3": 12, "sf3": 1.6, "ta3": 0.05, "bs3": 0.05,
          "w4": 5, "sf4": 1.3, "ta4": 0.05, "bs4": 0.05, "w5": 5, "sf5": 1.3,
          "ta5": 0.05, "bs5": 0.05, "uncertainty_con": 0.1, "tri5": True},
}


def passes_from_code_config(cfg: dict) -> list[BandPassCfg]:
    """Per-code config dict -> the 5 BandPassCfg passes (run 3 uses a
    rolling median, run 5 the tri5 kernel when ``tri5`` is set —
    apply_sentemqc_to_series, scripts/sentemqc.py:89-93)."""
    passes = []
    for run in (1, 2, 3, 4, 5):
        stat = "mean"
        if run == 3:
            stat = "median"
        elif run == 5 and cfg.get("tri5", False):
            stat = "tri5"
        passes.append(
            BandPassCfg(
                window=cfg[f"w{run}"],
                scale=cfg[f"sf{run}"],
                top_add=cfg[f"ta{run}"],
                bottom_sub=cfg[f"bs{run}"],
                stat=stat,
                unc_pct=cfg.get("uncertainty_pct"),
                unc_const=cfg.get("uncertainty_con"),
            )
        )
    return passes


def _by_variable(values: dict[str, Column]) -> Column:
    """``CASE variable WHEN name THEN expr ... END`` over ``values``."""
    case = None
    for name, expr in values.items():
        cond = F.col("variable") == name
        case = F.when(cond, expr) if case is None else case.when(cond, expr)
    return case


_RUN_FLAGS = [f"flag_run{i}" for i in range(1, 6)]
_BAND_FIELDS = [
    *[T.StructField(name, T.IntegerType(), False) for name in _RUN_FLAGS],
    T.StructField("qcband_top", T.DoubleType()),
    T.StructField("qcband_bottom", T.DoubleType()),
]


def run_sentemqc_plan(
    readings: DataFrame,
    var_map: Sequence[SentemVar],
    start_time=None,
    end_time=None,
) -> DataFrame:
    """The EP3 lifecycle over the long table. Output one row per input
    reading of a mapped variable with the reference's result columns
    (apply_sentemqc_to_series return, scripts/sentemqc.py:80-114):
    station, variable, ts, obs_in, obs_raw, value_masked, flag_global,
    is_flagged, flag_reason, qcband_top, qcband_bottom, mask_pre, and
    the per-pass flag_run1..5 (the reference drops them; they cost
    nothing and make audits direct).

    ``start_time`` / ``end_time`` bound the series independently and
    inclusively, like the reference's ``d.loc[start:end]``.

    Flags are computed on the N-converted series for nitrate
    variables; bands are exported back in original NO3 units;
    value_masked masks the PRE-conversion obs_raw — all per the
    reference flow. Pass-5 bands are NULL where the pass's own
    min-periods guard fails (W15)."""
    by_var = {v.variable: v for v in var_map}
    if len(by_var) != len(var_map):
        raise ValueError(f"variables mapped twice: {[v.variable for v in var_map]}")
    passes = {
        name: passes_from_code_config(SENTEMQC_CONFIG[v.code]) for name, v in by_var.items()
    }
    ship_package(readings.sparkSession)

    d = readings.filter(F.col("variable").isin(list(by_var)))
    if start_time is not None:
        d = d.filter(F.col("ts") >= start_time)
    if end_time is not None:
        d = d.filter(F.col("ts") <= end_time)
    offset = _by_variable({name: F.lit(v.calibration_offset) for name, v in by_var.items()})
    d = d.withColumn("obs_in", F.col("value") + offset)
    mask_pre = F.col("obs_in").isNull() | (F.col("obs_in") <= 0)
    d = d.withColumns({"mask_pre": mask_pre, "obs_raw": F.when(~mask_pre, F.col("obs_in"))})
    nitrates = [name for name, v in by_var.items() if v.is_nitrate]
    obs = F.col("obs_raw")
    if nitrates:
        obs = F.when(F.col("variable").isin(nitrates), obs * F.lit(NITRATE_NO3_TO_N)).otherwise(obs)
    # the pre-masked observation every pass and sensor rule reads: NaN is NULL too
    d = d.withColumn("obs", F.when(~F.isnan(obs), obs))
    sensor = _by_variable({name: sensor_error_flag("obs", v.code) for name, v in by_var.items()})
    d = d.select(*KEYS, "ts", "obs_in", "obs_raw", "mask_pre", sensor.alias("flag_sensor"), "obs")

    def per_series(key, table):
        return Q.sentemqc_table(table, passes[key[1].as_py()])

    d = d.groupBy(*KEYS).applyInArrow(per_series, T.StructType(d.schema.fields + _BAND_FIELDS))
    if nitrates:
        back = F.lit(1.0 / NITRATE_NO3_TO_N)
        is_n = F.col("variable").isin(nitrates)
        d = d.withColumns(
            {band: F.when(is_n, F.col(band) * back).otherwise(F.col(band))
             for band in ("qcband_top", "qcband_bottom")}
        )
    named = {name: F.col(name) for name in ("flag_sensor", *_RUN_FLAGS)}
    glob = combine_flags_200(*named.values())
    return d.select(
        *KEYS, "ts", "obs_in", "obs_raw",
        F.when(glob == 200, None).otherwise(F.col("obs_raw")).alias("value_masked"),
        glob.alias("flag_global"),
        (glob == 200).alias("is_flagged"),
        flag_reasons(named).alias("flag_reason"),
        "qcband_top", "qcband_bottom", "mask_pre", *_RUN_FLAGS,
    )


# long column -> wide suffix of the reference's EP3 export
# (run_sentemqc_on_dataframe, scripts/sentemqc.py:159-164)
SENTEMQC_WIDE_FIELDS = {
    "flag_global": "flag_global",
    "is_flagged": "is_flagged",
    "flag_reason": "flag_reason",
    "qcband_top": "qcband_top",
    "qcband_bottom": "qcband_bottom",
    "value_masked": "masked",
}


def sentemqc_wide(
    out_long: DataFrame, variables: list[str] | None = None
) -> DataFrame:
    """The reference's EP3 export columns ``{var}__flag_global`` ..
    ``{var}__masked``: :func:`qc_pipeline.widen` with the EP3 fields."""
    return widen(out_long, variables, SENTEMQC_WIDE_FIELDS)
