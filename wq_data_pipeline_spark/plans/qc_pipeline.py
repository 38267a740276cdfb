"""The full QC pipeline plan — the engine's equivalent of the
reference's EP1/EP2 lifecycle (run_pipeline -> process_variable,
scripts/ufz_water_qc_pipeline.py:666-772) over the long readings
table.

Where the reference loops over variables in pandas, this plan sends
each whole (station, variable) series to one Python worker, once:
``qc_long`` runs the per-series kernel (operators/series_qc.py:
clean stage, fallback flag suite, SentemQC) through one
``groupBy(station, variable).applyInArrow``. The kernel is numpy over
a sorted series, so the chain costs no Spark window pass, no plan of
a few hundred expressions to build, and no per-stage codegen.

The plan is lazy except for three pins (operators/pinning.py), each
read by several sinks and figures, so the work behind each runs once:
- the long table (the kernel's output);
- the events table, from the long table's clean column through the
  kernel's event detectors (a second grouped-Arrow pass over the pin;
  the pin reports no partitioning, so that pass shuffles it by series
  once more);
- the seasonal table, one aggregate over the long table and the event
  starts, read by its CSV and figure 06.

The report tables hold no join: the seasonal table counts the event
starts in its own aggregate, and the meta table is one window and one
aggregate over the readings, so each costs one shuffle.

Outputs mirror the reference's artifacts:
- wide QC timeseries parquet: ``{var}__raw/__clean/__accepted/
  __saqc_flag`` columns (P16/J2 pivot; golden schema
  scripts/water_qc_output/processed/.../*__qc_timeseries.parquet)
- events table (W4/W5/W6 emissions, J4 union)
- seasonal summary (A7)
- meta table (step, duplicates)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F, types as T

from wq_data_pipeline_spark.functions.scalars import sanitize_name
from wq_data_pipeline_spark.operators import clean as C
from wq_data_pipeline_spark.operators import series_qc as Q
from wq_data_pipeline_spark.operators import stats as S
from wq_data_pipeline_spark.operators.pinning import pin
from wq_data_pipeline_spark.operators.windows import with_ts_delta
from wq_data_pipeline_spark.session import ship_package

KEYS = ["station", "variable"]


@dataclass
class QCConfig:
    """Per-run config (reference EP2 hardcoded config, :775-800). The
    detectors' window lengths, tolerances and the sentinel set are the
    reference's values, module constants of ``operators/series_qc.py``."""

    range_map: dict[str, tuple[float, float]] = field(default_factory=dict)
    max_gap_seconds: float = 7200.0
    z_thresh: float = 4.0
    # reference default: process_variable(apply_sentem=True) attaches
    # __sm_masked/__sm_flagged/__sm_flagreason to the wide output
    # (scripts/ufz_water_qc_pipeline.py:740-744)
    apply_sentem: bool = True
    # full_suite=True runs the reference's COMPLETE no-SaQC fallback
    # detector set (apply_saqc_suite else-branch,
    # scripts/ufz_water_qc_pipeline.py:566-577); full_suite=False
    # keeps the lean set (z + missing + range) that the oracled
    # catalog queries pin.
    full_suite: bool = False


_LONG_FIELDS = [
    T.StructField("station", T.StringType()),
    T.StructField("variable", T.StringType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("clean", T.DoubleType()),
    T.StructField("dup_count", T.LongType(), False),
    T.StructField("raw", T.DoubleType()),
    T.StructField("gap_seconds", T.DoubleType()),
    T.StructField("is_gap", T.BooleanType(), False),
    T.StructField("f_z", T.BooleanType(), False),
    T.StructField("saqc_flag", T.IntegerType(), False),
    T.StructField("accepted", T.DoubleType()),
]
_SENTEM_FIELDS = [
    T.StructField("sm_masked", T.DoubleType()),
    T.StructField("sm_flagged", T.BooleanType(), False),
    T.StructField("sm_flagreason", T.StringType(), False),
]
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("station", T.StringType()),
        T.StructField("variable", T.StringType()),
        T.StructField("type", T.StringType(), False),
        T.StructField("start", T.TimestampType()),
        T.StructField("end", T.TimestampType()),
        T.StructField("hours", T.DoubleType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("n_points", T.LongType(), False),
        T.StructField("pre", T.TimestampType()),
        T.StructField("post", T.TimestampType()),
        T.StructField("pre_val", T.DoubleType()),
        T.StructField("post_val", T.DoubleType()),
    ]
)


def qc_long(readings: DataFrame, cfg: QCConfig) -> DataFrame:
    """Clean, flag and (with ``cfg.apply_sentem``) SentemQC every series
    in ONE Python-worker pass: ``groupBy(station, variable)
    .applyInArrow`` runs :func:`series_qc.qc_table` on each whole
    series. Columns: station, variable, ts, clean, dup_count, raw,
    gap_seconds, is_gap, f_z, saqc_flag, accepted (+ sm_masked,
    sm_flagged, sm_flagreason). Rows with a NULL ts are dropped first,
    as ingest does (reference ensure_time_index). The workers import
    the kernel by module reference, so the package is shipped first."""
    ship_package(readings.sparkSession)

    def per_series(key, table):
        return Q.qc_table(
            table,
            max_gap_seconds=cfg.max_gap_seconds,
            z_thresh=cfg.z_thresh,
            value_range=cfg.range_map.get(key[1].as_py()),
            full_suite=cfg.full_suite,
            sentem=cfg.apply_sentem,
        )

    fields = _LONG_FIELDS + (_SENTEM_FIELDS if cfg.apply_sentem else [])
    return (
        readings.select(*KEYS, "ts", "value")
        .filter(F.col("ts").isNotNull())
        .groupBy(*KEYS)
        .applyInArrow(per_series, T.StructType(fields))
    )


def seasonal_stage(cleaned: DataFrame, events: DataFrame, step_seconds: float = 900.0) -> DataFrame:
    """A7 + per-season ``flat_values``/``flat_slopes`` event counts, in
    one aggregate over the readings and the events' starts (no pivot,
    no join; see ``stats.seasonal_stats(marks=)``)."""
    d = cleaned.withColumnRenamed("clean", "value")
    starts = events.select(*KEYS, F.col("start").alias("ts"), "type")
    counts = {"flat_values": "flat_values_events", "flat_slopes": "flat_slopes_events"}
    return S.seasonal_stats(d, KEYS, "ts", "value", step_seconds, marks=(starts, "type", counts))


def meta_stage(readings: DataFrame) -> DataFrame:
    """Per-series meta: inferred step, duplicate count, and the
    ACTIVE sentinel set (reference meta dict
    ``{station, col, step, sentinel_used, duplicates}``,
    scripts/ufz_water_qc_pipeline.py:738).

    One window (successive ts diffs) and one aggregate, no join. Rows
    sharing a ts are sorted next to each other, so every one of them
    but the first has a diff of 0: ``duplicates`` counts those, plus
    all NULL-ts rows but one (a ``groupBy(ts)`` puts them in one
    group)."""
    d = with_ts_delta(readings.select(*KEYS, "ts", "value"), KEYS, "ts", out="_dt")
    null_ts = F.count_if(F.col("ts").isNull())
    active = C.active_sentinel_array(
        Q.SENTINELS, "value", Q.SENTINEL_MIN_COUNT, Q.SENTINEL_MIN_FRAC
    )
    return d.groupBy(*KEYS).agg(
        C.step_seconds("_dt").alias("step_seconds"),
        (F.count_if(F.col("_dt") == 0) + F.greatest(null_ts - 1, F.lit(0))).alias("duplicates"),
        # JSON-ish string (the reference stores the sorted list) so the
        # CSV meta sink can carry it
        F.to_json(active).alias("sentinel_used"),
    )


def widen(
    qc: DataFrame,
    variables: list[str] | None = None,
    fields: dict[str, str] | None = None,
) -> DataFrame:
    """P16/J2: long -> wide pivot with the reference's naming
    convention ``{sanitized_var}__{suffix}``.

    ``fields`` maps each long column to its wide suffix; the default is
    the QC timeseries' ``raw``, ``clean``, ``accepted``, ``saqc_flag``
    (+ the ``sm_*`` SentemQC columns when present), each kept under
    its own name.

    ONE shuffle total: a single ``groupBy(station, ts).pivot(variable)``
    aggregating ``first(struct(*fields))``, then a free (narrow)
    projection expanding each variable's struct into its suffix
    columns. The r1 form (one pivot per suffix + 3 full-outer joins)
    was 4 shuffles over the same key.

    Pass ``variables`` to keep the plan fully lazy; when omitted it is
    discovered with a distinct-collect on the (tiny) variable column.
    """
    if fields is None:
        names = ["raw", "clean", "accepted", "saqc_flag"] + [
            s for s in ("sm_masked", "sm_flagged", "sm_flagreason") if s in qc.columns
        ]
        fields = {c: c for c in names}
    if variables is None:
        variables = [r[0] for r in qc.select("variable").distinct().collect()]
    packed = (
        qc.groupBy("station", "ts")
        .pivot("variable", variables)
        .agg(F.first(F.struct(*fields)))
    )
    cols = [F.col("station"), F.col("ts")]
    for v in variables:
        for src, suffix in fields.items():
            cols.append(F.col(f"`{v}`.{src}").alias(f"{sanitize_name(v)}__{suffix}"))
    return packed.select(*cols).orderBy("station", "ts")


@dataclass
class QCOutputs:
    timeseries: DataFrame
    timeseries_wide: DataFrame
    events: DataFrame
    seasonal: DataFrame
    meta: DataFrame


def run_qc_pipeline(readings: DataFrame, cfg: QCConfig | None = None) -> QCOutputs:
    """The full DAG. ``readings`` is the canonical long table
    (station, variable, ts, value).

    Three subtrees are pinned, so each runs once however many actions
    read it (reference recomputes nothing because everything lives in
    RAM; SURVEY §4.1 'Caching / reuse'):

    - the long table (:func:`qc_long`), read by ``widen``'s variable
      collect, both parquet sinks, the events pass, the seasonal
      table, every figure input and the CLI's WRTDS leg;
    - the events table, read by the events CSV, the seasonal table
      and the event figures;
    - the seasonal table, read by its CSV and the coverage figure.

    ``meta`` reads ``readings`` because it counts the pre-dedup
    duplicates. Release the pins with ``operators.pinning.unpin``
    after the last sink."""
    cfg = cfg or QCConfig()
    qc = pin(qc_long(readings, cfg))
    cleaned = qc.select(*KEYS, "ts", "clean")
    events = pin(
        cleaned.groupBy(*KEYS).applyInArrow(Q.events_table, EVENTS_SCHEMA)
    )
    return QCOutputs(
        timeseries=qc,
        timeseries_wide=widen(qc),
        events=events,
        seasonal=pin(seasonal_stage(cleaned, events)),
        meta=meta_stage(readings),
    )


def write_outputs(out: QCOutputs, base_dir: str) -> None:
    """Sinks S4-S6: partitioned parquet for the big series (station
    partition -> dynamic partition pruning on read), single-file CSVs
    for the small report tables."""
    out.timeseries_wide.write.mode("overwrite").partitionBy("station").parquet(
        f"{base_dir}/qc_timeseries_wide"
    )
    out.timeseries.write.mode("overwrite").partitionBy("station").parquet(
        f"{base_dir}/qc_timeseries_long"
    )
    for name, df in (("events", out.events), ("seasonal", out.seasonal), ("meta", out.meta)):
        df.coalesce(1).write.mode("overwrite").option("header", True).csv(
            f"{base_dir}/{name}"
        )
