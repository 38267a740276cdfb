"""EP3 — standalone SentemQC runner (reference
``run_sentemqc_on_dataframe``, scripts/sentemqc.py:145-173): per-code
5-pass band QC over the canonical long table, with calibration
offsets, nitrate N<->NO3 conversion, sensor-error flags, pass-5 band
export, and the reference's wide export naming (``{var}__flag_global``
.. ``{var}__masked``). The band passes themselves are
:func:`operators.sentem.apply_sentemqc`; the QC pipeline runs the
same five passes in its per-series kernel
(``operators.series_qc.sentemqc_series``), and
tests/test_series_qc.py holds the two equal.

Where the reference loops variables in Python over pandas Series,
this plan builds one lazy sub-plan per mapped variable (window sizes
differ per sensor code, so the band frames genuinely differ) and
unions them — every series still computes distributed, partitioned by
(station, variable).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from wq_data_pipeline_spark.operators.sentem import (
    NITRATE_NO3_TO_N,
    BandPassCfg,
    apply_sentemqc,
)
from wq_data_pipeline_spark.plans.qc_pipeline import widen

KEYS = ["station", "variable"]


@dataclass(frozen=True)
class SentemVar:
    """One VARIABLE_MAP entry (scripts/sentemqc.py:77)."""

    variable: str
    code: int
    label: str = ""
    unit: str = ""
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


def run_sentemqc_plan(
    readings: DataFrame,
    var_map: Sequence[SentemVar],
    start_time=None,
    end_time=None,
    ts: str = "ts",
) -> DataFrame:
    """The EP3 lifecycle over the long table. Output one row per
    (station, variable, ts) with the reference's result columns
    (apply_sentemqc_to_series return, scripts/sentemqc.py:80-114):
    obs_in, obs_raw, value_masked, flag_global, is_flagged,
    flag_reason, qcband_top, qcband_bottom, mask_pre.

    ``start_time`` / ``end_time`` bound the series independently and
    inclusively, like the reference's ``d.loc[start:end]``.

    Flags are computed on the N-converted series for nitrate
    variables; bands are exported back in original NO3 units;
    value_masked masks the PRE-conversion obs_raw — all per the
    reference flow. Pass-5 bands are NULL where fewer than 3 of the 5
    points are finite (W15): the pass's own min-periods guard."""
    outs = []
    for v in var_map:
        d = readings.filter(F.col("variable") == v.variable)
        if start_time is not None:
            d = d.filter(F.col(ts) >= start_time)
        if end_time is not None:
            d = d.filter(F.col(ts) <= end_time)
        d = d.withColumn("obs_in", F.col("value") + F.lit(v.calibration_offset))
        mask_pre = F.col("obs_in").isNull() | (F.col("obs_in") <= 0)
        d = d.withColumn("mask_pre", mask_pre)
        d = d.withColumn("obs_raw", F.when(~mask_pre, F.col("obs_in")))
        obs = F.col("obs_raw") * F.lit(NITRATE_NO3_TO_N) if v.is_nitrate else F.col("obs_raw")
        d = d.withColumn("_obs", obs)
        passes = passes_from_code_config(SENTEMQC_CONFIG[v.code])
        d = apply_sentemqc(d, "_obs", KEYS, ts, passes, sensor_code=v.code)
        if v.is_nitrate:
            back = F.lit(1.0 / NITRATE_NO3_TO_N)
            d = d.withColumns(
                {"qcband_top": F.col("qcband_top") * back,
                 "qcband_bottom": F.col("qcband_bottom") * back}
            )
        d = d.withColumn(
            "value_masked", F.when(F.col("is_flagged"), None).otherwise(F.col("obs_raw"))
        )
        outs.append(
            d.select(
                *KEYS, ts, "obs_in", "obs_raw", "value_masked", "flag_global",
                "is_flagged", "flag_reason", "qcband_top", "qcband_bottom", "mask_pre",
                # per-component flags kept alongside (the reference drops
                # them; they cost nothing and make audits/tests direct)
                *[f"flag_run{i}" for i in range(1, 6)],
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


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
